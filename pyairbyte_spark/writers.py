"""Table store + write-strategy execution (append / replace / merge).

The reference finalizes each stream's temp table into the final table
with one of three SQL shapes (``airbyte/shared/sql_processor.py``):

- APPEND  → ``INSERT INTO … SELECT`` (:1042-1059)
- REPLACE → temp-table + atomic-ish rename swap (:1061-1087)
- MERGE   → native ``MERGE INTO`` (:1089-1127) or the emulated
  update-join + left-anti insert (:1148-1208)

Spark-first design:

- Tables are partitioned parquet directories (Delta would make
  REPLACE/MERGE single-commit atomic; parquet needs the same
  temp-then-swap dance the reference does, implemented here).
- MERGE is the ``row_number() OVER (PARTITION BY pk ORDER BY
  _airbyte_extracted_at DESC, _airbyte_raw_id DESC) = 1`` dedup-union —
  this also dedups *within* the incoming batch, fixing the reference's
  known same-batch-dupe TODO (``sql_processor.py:763-765``).
- At 100 TB: the union-dedup merge shuffles once on the PK; the window
  and the final write reuse that hash partitioning (no second shuffle).
- :class:`CommitLogTableStore` is the ACID implementation of this seam
  (the Delta package isn't installable offline, so the commit protocol
  is implemented directly): immutable parquet data directories plus an
  atomic JSON commit log give all-or-nothing REPLACE/MERGE, snapshot
  reads, bucket-pruned incremental merge, time travel, and vacuum —
  a reader can never observe a half-written table, which the
  rename-swap parquet store cannot guarantee (crash between its two
  renames leaves no table at all; see the crash-injection tests).
"""

from __future__ import annotations

import json
import re
import os
import time
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyairbyte_spark.constants import AB_EXTRACTED_AT_COLUMN, AB_RAW_ID_COLUMN
from pyairbyte_spark.strategies import WriteMethod


BUCKET_COL = "__pk_bucket"

# Most commits one grouped change-feed append scan covers: the scan maps
# every entry dir of its run to a commit version in one literal
# create_map, which must stay bounded on an unbounded replay.
CDF_APPEND_RUN_MAX = 500

# Commit ops that move bytes or metadata but NEVER rows: the snapshot
# relation is identical on both sides of such a commit by construction.
# The CDF planner (`_changes_for_step`) and the collapse planner
# (`diff_snapshots`'s rewrite-transparent window shrink) both key on
# this. `restore` and `publish_branch` DO change the visible relation;
# schema ops (`rename/drop/add_column`) are gated separately because
# they change the COLUMNS even though they preserve rows.
_ROW_PRESERVING_OPS = frozenset(
    {
        "compact",
        "set_check",
        "set_cluster_by",
        "set_bloom_index",
        "repair_metadata",
    }
)


def run_concurrently(*thunks):
    """Run independent Spark-action-bearing thunks from a small thread
    pool and return their results in thunk order.

    Spark's scheduler happily runs several jobs at once inside one
    application; actions are only sequential because driver code calls
    them sequentially. Index builds stage 2-3 INDEPENDENT tables
    (bands ∥ sigs, postings ∥ stats) whose writes commute — on a
    cluster the second job's tasks back-fill executors freed by the
    first job's straggler tail, and in local mode the second write's
    driver-side phases (commit JSON, footer harvest) overlap the
    first's task execution. Callers must pass thunks with NO data or
    commit-order dependency (the store's commit logs are per-table).
    The first exception re-raises in the caller after all thunks
    settle (no half-started writes left running)."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(3, len(thunks))) as pool:
        futs = [pool.submit(t) for t in thunks]
        done, errs = [], []
        for f in futs:
            try:
                done.append(f.result())
            except BaseException as e:  # settle all before raising
                errs.append(e)
        if errs:
            raise errs[0]
        return done


class LocalRows:
    """Driver-resident rows + schema, accepted by the store's write
    verbs in place of a DataFrame for tiny protocol frames (index
    metas, sync stats deltas, codebook/centroid literals).

    Staging a 1-row meta through a distributed write costs a full
    Spark job — scheduler round, task launch, executor round-trip —
    to move bytes that never left the driver. PySpark offers no
    LocalRelation (``createDataFrame`` always parallelizes into a
    LogicalRDD), so the caller declares locality explicitly with this
    marker and :meth:`CommitLogTableStore._stage` writes the parquet
    via pyarrow through the FileIO seam: same dir layout, same footer
    harvest, same manifest entry — readers cannot tell. Writes that
    need CHECK enforcement, bucket routing, or schema migration fall
    back to :meth:`to_df` transparently (correctness over the saved
    job). Scale posture: protocol frames are O(1) in corpus size, so
    the fast path is just as valid at 100 TB."""

    def __init__(self, rows, schema):
        self.rows = list(rows)
        self.schema = schema
        self._struct = None

    def struct(self, spark):
        if self._struct is None:
            from pyspark.sql.types import StructType

            if isinstance(self.schema, StructType):
                self._struct = self.schema
            else:
                self._struct = spark.createDataFrame([], self.schema).schema
        return self._struct

    def columns(self, spark) -> list[str]:
        return list(self.struct(spark).names)

    def dicts(self, spark) -> list[dict]:
        names = self.columns(spark)
        out = []
        for r in self.rows:
            if isinstance(r, dict):
                out.append({n: r.get(n) for n in names})
            else:
                out.append(dict(zip(names, r)))
        return out

    def to_df(self, spark) -> DataFrame:
        """The distributed-frame fallback (identical rows/schema)."""
        st = self.struct(spark)
        return spark.createDataFrame(
            [tuple(d[n] for n in st.names) for d in self.dicts(spark)], st
        )


class TableStore:
    """Parquet-directory table store with swap-based atomicity.

    ``merge_buckets=N`` opts a store into bucket-partitioned tables:
    rows partition by ``pmod(xxhash64(pk), N)`` and MERGE rewrites ONLY
    the partitions containing incoming keys (partition-pruned read +
    dynamic partition overwrite) instead of the whole table — the
    parquet expression of Delta's file-pruned ``MERGE INTO``. At 100 TB
    an incremental sync touching 0.1% of keys rewrites ~0.1% of
    buckets, not the table. Bucket atomicity is per-partition (a crash
    mid-merge can leave some buckets new / some old; re-running the
    same merge converges — idempotent by the latest-wins window).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        schema_name: str,
        *,
        merge_buckets: int | None = None,
        merge_salt: int | None = None,
        fileio=None,
        harvest_sums: bool = False,
    ) -> None:
        from pyairbyte_spark.fileio import LocalFileIO

        self.spark = spark
        # Opt-in per-file column-SUM harvest at staging (see
        # _harvest_sums_into): parquet footers carry min/max/nulls but
        # no sums, so sum/avg-bearing agg_where calls must scan unless
        # the store harvests sums itself at write time — one extra
        # column-pruned job per stage over the just-written files. No
        # mainstream format (Delta/Iceberg) records per-file sums;
        # this store's owned-manifest design can. Off by default so
        # write latency is unchanged unless a table wants the tier;
        # build_sum_stats() backfills existing tables.
        self.harvest_sums = harvest_sums
        # The storage seam (fileio.py): all driver-side metadata I/O —
        # manifests, commit publication, listings, footer harvest,
        # vacuum — goes through ``self.io`` so the store runs wherever
        # the data lives (LocalFileIO by default; HadoopFileIO for
        # HDFS-class filesystems; any atomic-conditional-PUT object
        # store via a custom FileIO). Bulk data I/O stays with Spark.
        self.io = fileio or LocalFileIO()
        # Resolved-manifest cache (commit-log store): commits are
        # immutable, so (table, version) → full manifest caches safely.
        self._man_cache: dict[tuple[str, int], dict] = {}
        # Multi-table txn-group verdicts ("commit"/"abort") — decisions
        # are immutable once made, so they cache forever; an undecided
        # group is never cached (its decision file may appear later).
        self._txn_verdicts: dict[str, str] = {}
        # (table, bloomidx ref) -> {(entry_path, file_path): {col: (m, k, bits)}}
        # Byte-capped (bitsets dominate; a big table's index is GBs —
        # an entry-count cap alone could pin 4×GB on the driver).
        self._bloom_cache: dict[tuple[str, str], dict] = {}
        self._bloom_cache_bytes = 0
        # (table, ref) pairs whose index exceeds the cache cap: probed
        # relationally (_bloom_join), never collected again.
        self._bloom_oversize: set[tuple[str, str]] = set()
        # Timestamp stats require the MICROS physical type — INT96
        # (Spark's legacy default) writes no parquet min/max, which
        # kills time-column zone maps (filestats.py) AND Spark's own
        # row-group pruning. ``get_spark`` sets the session default
        # (session.py:38); a foreign session that still writes INT96
        # stays CORRECT (the harvest omits the column → conservative,
        # never-prune skipping) but loses temporal pruning — warn
        # rather than silently mutating the caller's session conf,
        # which would change parquet output for all their unrelated
        # writes. (spark=None is allowed for manifest-only access,
        # e.g. the streaming tail reader, which never runs a DF op.)
        if spark is not None:
            try:
                ts_type = spark.conf.get("spark.sql.parquet.outputTimestampType")
            except Exception:
                ts_type = None
            if ts_type == "INT96":
                import warnings

                warnings.warn(
                    "spark.sql.parquet.outputTimestampType is INT96; "
                    "timestamp columns written by this store will carry "
                    "no parquet min/max stats, disabling temporal data "
                    "skipping (results stay correct). Set it to "
                    "TIMESTAMP_MICROS (pyairbyte_spark.get_spark does).",
                    stacklevel=2,
                )
        self.root = os.path.join(warehouse_dir, schema_name)
        self.merge_buckets = merge_buckets
        # Optional hot-PK salting for the merge dedup window (see
        # _dedup_latest); operators/skew.py documents the cost model.
        self.merge_salt = merge_salt
        self.io.makedirs(self.root)

    def _bucket_expr(self, primary_keys: list[str], n_buckets: int):
        return F.pmod(
            F.abs(F.xxhash64(*[F.col(k).cast("string") for k in primary_keys])),
            F.lit(n_buckets),
        )

    # -- bucket-layout metadata --------------------------------------------
    # The bucket count is part of the TABLE's physical layout, not the
    # store's config: hashing incoming keys with a different N than the
    # one the table was written with silently strands stale rows in old
    # buckets. Persist N in a sidecar (outside the table dir, so the
    # replace swap can't drop it) and always hash with the persisted
    # value; a bucketed table with no sidecar (pre-metadata layout) is
    # migrated by full rewrite on the next merge.

    def _meta_path(self, table_name: str) -> str:
        return self.table_path(table_name) + "._bucket_meta.json"

    def _persisted_buckets(self, table_name: str) -> int | None:
        try:
            n = json.loads(self.io.read_text(self._meta_path(table_name))).get(
                "merge_buckets"
            )
            return int(n) if n else None
        except (OSError, ValueError):
            return None

    def _write_bucket_meta(self, table_name: str, n_buckets: int | None) -> None:
        meta = self._meta_path(table_name)
        if not n_buckets:
            self.io.delete_file(meta)
            return
        self.io.write_text(meta, json.dumps({"merge_buckets": n_buckets}))

    def table_path(self, table_name: str) -> str:
        return os.path.join(self.root, table_name)

    def table_exists(self, table_name: str) -> bool:
        path = self.table_path(table_name)
        if not self.io.is_dir(path):
            return False
        return any(
            f.endswith(".parquet") or f.startswith(f"{BUCKET_COL}=")
            for f in self.io.list_names(path)
        )

    def _read_raw(self, table_name: str) -> DataFrame:
        # mergeSchema handles auto-added columns across appends
        # (schema evolution parity with sql_processor.py:934-981).
        return self.spark.read.option("mergeSchema", "true").parquet(
            self.table_path(table_name)
        )

    def read(self, table_name: str) -> DataFrame:
        df = self._read_raw(table_name)
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in self.io.list_names(self.root)
            if self.io.is_dir(os.path.join(self.root, d))
            and not d.startswith("_tmp_")
        )

    def drop(self, table_name: str) -> None:
        self.io.delete_dir(self.table_path(table_name))
        self._write_bucket_meta(table_name, None)

    # -- write strategies ---------------------------------------------------

    # Changing a column's type mid-table is a DEFERRED failure: the
    # write succeeds and every later read throws (parquet mergeSchema
    # cannot merge differing primitive types WITHIN one directory —
    # not even int32/int64). Writes fail fast instead; the ingest
    # path's type compiler (types.py:58-151, reference string-failover
    # parity) normalizes conflicts before they ever reach the store.
    # The commit-log store reads each snapshot entry separately and
    # unions BY NAME across entries, whose coercion DOES widen within
    # the numeric family (int→long, float→double: verified) — so it
    # relaxes the check to cross-family conflicts only.
    _NUMERIC_FAMILY = {"byte", "tinyint", "smallint", "short", "int",
                       "bigint", "float", "double"}
    _ALLOW_NUMERIC_WIDENING = False

    def _check_schema_compat(
        self,
        df: DataFrame,
        table_name: str,
        existing: "dict[str, str] | None" = None,
    ) -> None:
        if existing is None:
            try:
                existing = dict(self.read(table_name).dtypes)
            except Exception:
                return  # unreadable/new table: nothing to conflict with
        for name, dt in df.dtypes:
            old = existing.get(name)
            if old is None or old == dt:
                continue
            if self._ALLOW_NUMERIC_WIDENING and (
                (old in self._NUMERIC_FAMILY and dt in self._NUMERIC_FAMILY)
                or (old.startswith("decimal") and dt.startswith("decimal"))
            ):
                continue
            raise ValueError(
                f"column {name!r} is {old} in table {table_name!r} "
                f"but {dt} in the incoming frame — parquet cannot "
                "merge these and every later read would fail. Cast "
                "the incoming column, or write to a new column "
                "name (the ingest path's type compiler normalizes "
                "conflicts to string before they reach the store)."
            )

    def _temp_name(self, table_name: str) -> str:
        # ULID-suffixed unique temp names (parity: sql_processor.py:592-612).
        return f"_tmp_{table_name}_{uuid.uuid4().hex[:9]}"

    def _swap_in(self, temp_name: str, table_name: str) -> None:
        """rename final→deleteme, temp→final, drop deleteme
        (parity: sql_processor.py:1061-1087)."""
        final = self.table_path(table_name)
        temp = self.table_path(temp_name)
        deleteme = self.table_path(f"_tmp_deleteme_{uuid.uuid4().hex[:9]}")
        if self.io.is_dir(final):
            self.io.rename(final, deleteme)
        self.io.rename(temp, final)
        self.io.delete_dir(deleteme)

    def _with_bucket(
        self,
        df: DataFrame,
        primary_keys: list[str] | None,
        n_buckets: int | None = None,
    ) -> DataFrame:
        n = n_buckets or self.merge_buckets
        if n and primary_keys:
            return df.withColumn(BUCKET_COL, self._bucket_expr(primary_keys, n))
        return df

    def _writer(self, df: DataFrame):
        w = df.write
        return w.partitionBy(BUCKET_COL) if BUCKET_COL in df.columns else w

    def write_append(
        self, df: DataFrame, table_name: str, primary_keys: list[str] | None = None
    ) -> None:
        exists = self.table_exists(table_name)
        n_buckets = self.merge_buckets
        if exists:
            self._check_schema_compat(df, table_name)
            # Align by name against the existing table's schema; new
            # columns flow through (mergeSchema on read).
            existing_cols = set(self.read(table_name).columns)
            new_cols = [c for c in df.columns if c not in existing_cols]
            ordered = [c for c in df.columns if c in existing_cols] + new_cols
            df = df.select(*ordered)
            if BUCKET_COL in self._read_raw(table_name).columns:
                # Appends to a bucketed table MUST hash with the
                # table's layout N, whatever the store config says.
                n_buckets = self._persisted_buckets(table_name) or n_buckets
            else:
                n_buckets = None  # never mix bucketed + unbucketed files
        df = self._with_bucket(df, primary_keys, n_buckets)
        self._writer(df).mode("append").parquet(self.table_path(table_name))
        if (
            BUCKET_COL in df.columns
            and not exists
            and self._persisted_buckets(table_name) is None
        ):
            # Stamp only tables THIS write created: for a pre-metadata
            # bucketed table the existing files' hash N is unknown, and
            # stamping the store's current N would wrongly unlock the
            # incremental merge path (stale rows under the old hashing
            # would never be overwritten). Unstamped tables keep taking
            # the full-rewrite merge, which re-buckets and then stamps.
            self._write_bucket_meta(table_name, n_buckets)

    def write_replace(
        self, df: DataFrame, table_name: str, primary_keys: list[str] | None = None
    ) -> None:
        temp = self._temp_name(table_name)
        df = self._with_bucket(df, primary_keys)
        self._writer(df).mode("overwrite").parquet(self.table_path(temp))
        self._swap_in(temp, table_name)
        self._write_bucket_meta(
            table_name,
            self.merge_buckets if BUCKET_COL in df.columns else None,
        )

    def _dedup_latest(
        self,
        incoming: DataFrame,
        primary_keys: list[str],
        *,
        salt: int | None = None,
    ) -> DataFrame:
        # One shuffle on the PK; window + dedup ride the same partitioning.
        order = [
            F.col(AB_EXTRACTED_AT_COLUMN).desc_nulls_last(),
            F.col(AB_RAW_ID_COLUMN).desc_nulls_last(),
        ]
        salt = salt or self.merge_salt
        if salt and salt > 1:
            # Hot-PK guard: a pathological key (one entity re-synced
            # millions of times) is ONE window partition. Pre-reduce on
            # (pk, salt) so each key reaches the exact window with at
            # most `salt` candidates — the per-salt latest always
            # includes the global latest, so the result is identical.
            # The salt is a deterministic hash of the raw id: retries
            # route rows the same way, and any routing is correct (the
            # ORDER columns, not the salt, decide the winner).
            w1 = Window.partitionBy(*primary_keys, "__salt").orderBy(*order)
            incoming = (
                incoming.withColumn(
                    "__salt",
                    F.pmod(
                        F.xxhash64(F.col(AB_RAW_ID_COLUMN).cast("string")),
                        F.lit(salt),
                    ),
                )
                .withColumn("__rn", F.row_number().over(w1))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__salt")
            )
        w = Window.partitionBy(*primary_keys).orderBy(*order)
        return (
            incoming.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def write_merge(self, df: DataFrame, table_name: str, primary_keys: list[str]) -> None:
        if not primary_keys:
            raise ValueError("merge requires primary keys")
        exists = self.table_exists(table_name)
        bucketed_table = (
            exists and BUCKET_COL in self._read_raw(table_name).columns
        )
        layout_n = self._persisted_buckets(table_name) if bucketed_table else None
        if bucketed_table and layout_n:
            # Incremental path: touch only the buckets incoming keys
            # hash into — hashing with the TABLE's persisted bucket
            # count (a store reopened with a different merge_buckets
            # would otherwise probe/overwrite the wrong buckets and
            # leave stale PK rows behind). The filter prunes partitions
            # at the scan; the dynamic overwrite replaces only
            # partitions present in the output (= exactly the incoming
            # buckets). A bucketed table with NO sidecar falls through
            # to the full rewrite, which re-buckets and writes the meta.
            incoming = self._with_bucket(df, primary_keys, layout_n)
            # one partial+final aggregation, not distinct().collect()
            # (same bytes shuffled, one less AQE job — see merge_into)
            buckets = list(incoming.agg(F.collect_set(BUCKET_COL)).collect()[0][0])
            old = self._read_raw(table_name).filter(F.col(BUCKET_COL).isin(buckets))
            latest = self._dedup_latest(
                old.unionByName(incoming, allowMissingColumns=True), primary_keys
            )
            (
                latest.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(self.table_path(table_name))
            )
            return
        incoming = df
        if exists:
            incoming = self.read(table_name).unionByName(
                incoming, allowMissingColumns=True
            )
        latest = self._dedup_latest(incoming, primary_keys)
        # Full rewrite (also the one-time migration INTO the bucketed
        # layout when merge_buckets is set on an unbucketed table, or
        # into the CURRENT bucket count for a metadata-less table).
        latest = self._with_bucket(latest, primary_keys)
        temp = self._temp_name(table_name)
        self._writer(latest).mode("overwrite").parquet(self.table_path(temp))
        self._swap_in(temp, table_name)
        self._write_bucket_meta(
            table_name,
            self.merge_buckets if BUCKET_COL in latest.columns else None,
        )

    def write(
        self,
        df: DataFrame,
        table_name: str,
        method: WriteMethod,
        primary_keys: list[str] | None = None,
        *,
        txn: tuple[str, int] | None = None,
        txn_group: str | None = None,
    ) -> None:
        """Dispatch one write. ``txn=(app_id, batch_id)`` threads the
        SetTransaction idempotence watermark through to stores that
        support it (the commit-log store's append/replace/merge); the
        plain parquet store rejects it — there is no atomic commit to
        ride. ``txn_group`` likewise marks the commit as a multi-table
        txn PREPARE (commit-log store only)."""
        kw = {}
        if txn is not None:
            kw["txn"] = txn
        if txn_group is not None:
            kw["txn_group"] = txn_group
        if method == WriteMethod.APPEND:
            self.write_append(df, table_name, primary_keys, **kw)
        elif method == WriteMethod.REPLACE:
            self.write_replace(df, table_name, primary_keys, **kw)
        elif method == WriteMethod.MERGE:
            self.write_merge(df, table_name, primary_keys or [], **kw)
        else:  # pragma: no cover
            raise ValueError(f"unknown write method {method}")


class StoreSnapshot:
    """A pinned multi-table view of a :class:`CommitLogTableStore`
    (see :meth:`CommitLogTableStore.snapshot`). Immutable: the
    ``versions`` vector is fixed at construction, every read resolves
    through it, and concurrent writers are invisible to the holder."""

    def __init__(self, store, versions: dict[str, int]) -> None:
        self.store = store
        self.versions = dict(versions)

    def read(self, table_name: str):
        return self.store.read_version(
            table_name, self._version_of(table_name)
        )

    def read_where(self, table_name: str, predicates):
        return self.store.read_where(
            table_name, predicates, version=self._version_of(table_name)
        )

    def _version_of(self, table_name: str) -> int:
        try:
            return self.versions[table_name]
        except KeyError:
            raise KeyError(
                f"table {table_name!r} is not part of this snapshot "
                f"(pinned: {sorted(self.versions)})"
            ) from None

    def __repr__(self) -> str:  # pragma: no cover
        return f"StoreSnapshot({self.versions!r})"


class ConcurrentCommitError(RuntimeError):
    """Another writer published the commit version this writer staged.

    Optimistic concurrency: appends retry transparently (their staged
    data directory is position-independent); replace retries rebuild
    only the manifest; merge surfaces the conflict to the caller, whose
    re-run converges (latest-wins dedup is idempotent).
    """


class TxnGroupAbortedError(ConcurrentCommitError):
    """A multi-table transaction group was aborted before (or instead
    of) committing — either explicitly, or force-resolved by a
    concurrent writer that found an in-flight PREPARE blocking its
    commit slot past the grace window (writer-driven recovery; see
    :meth:`CommitLogTableStore.begin_txn`). None of the group's
    prepared table states ever became visible; re-run the transaction.
    """


class TxnGroupCommittedError(RuntimeError):
    """:meth:`MultiTableTxn.abort` lost to (or followed) a COMMIT
    verdict: the group's prepared states ARE visible. Raised so the
    aborter can't proceed believing nothing landed."""


class MultiTableTxn:
    """Atomic cross-TABLE transaction over one commit-log store.

    Two-phase protocol (no coordinator service — the decision FILE is
    the coordinator, exactly like the commit log itself):

    1. PREPARE — each write inside the txn runs the normal verb
       (stage data, retry-rebase, conditional-PUT a commit), except the
       commit JSON carries ``txn_group: <gid>``. A commit carrying a
       group id is INVISIBLE to every reader until the group decides:
       snapshot resolution walks past it, CDF skips it, time travel
       refuses it. The slot it claimed stays claimed (versions are
       immutable); later writers slide past it if the group aborts.
    2. DECIDE — :meth:`commit` create-exclusive-PUTs one decision file
       (``_txngroups/<gid>.json``) with verdict ``commit``. That single
       atomic PUT is the transaction's atomicity point: every prepared
       table state becomes visible at once, or (verdict ``abort``)
       none ever does.

    Recovery is writer-driven (Percolator's lock-resolution shape,
    re-expressed over a commit log): a writer blocked by an in-flight
    prepare polls the decision for ``TXN_RESOLVE_GRACE_S`` seconds and
    then force-aborts the group via the same conditional PUT — the
    crashed coordinator's leftovers never wedge the table, and a slow
    coordinator racing its own abort loses deterministically (exactly
    one verdict wins the PUT). Aborted prepares remain in the commit
    chain as invisible slots; their data dirs are vacuum garbage.

    Scope: :meth:`write_append`, :meth:`write_replace`, and
    :meth:`write_merge`; one commit per table per group (the
    pipeline-chain verbs — raw + clean + agg move together). Reads
    inside the txn see the PRE-txn snapshots (no
    read-your-own-uncommitted-writes). All three verbs stage eagerly
    but claim their commit slots only at :meth:`prepare`/:meth:`commit`
    — the slot-holding window is metadata PUTs, not Spark jobs (stale
    merge plans are refreshed before the first slot is claimed). Single-table
    SetTransaction watermarks (``txn=(app_id, batch_id)``) compose:
    the watermark rides the prepared commit, so it only takes effect
    if the group commits.

    Reference point: the reference finalizes multiple streams' states
    atomically per sync via one SQL transaction over its state table
    (``airbyte/shared/state_providers.py`` + ``sql_processor.py``
    write-lock finalization); this is that guarantee extended to the
    data itself across tables.
    """

    def __init__(self, store: "CommitLogTableStore", group_id: str | None = None):
        self.store = store
        self.group_id = group_id or uuid.uuid4().hex
        self.prepared: dict[str, int] = {}
        self._closed = False
        self._tables: set[str] = set()
        # (kind, table, staged entry, checks-for-replace, watermark)
        self._staged: list[tuple] = []
        self._did_prepare = False

    # -- stage ----------------------------------------------------------------
    # Writes STAGE eagerly (the expensive Spark jobs run when called)
    # but their commit-slot PUTs are DEFERRED to prepare()/commit():
    # the group's slot-holding window is then a few metadata PUTs, not
    # the staging jobs. A coordinator that staged table B while
    # HOLDING table A's slot is exactly what contenders force-abort
    # under load (measured: 8-way contention killed ~95% of
    # commit-intent groups before this split; with merge split too,
    # the same contention test lands ≥90% — see
    # test_multi_table_txn.py::test_contended_merge_groups_land).

    def _check_open(self, table_name: str) -> None:
        if self._closed:
            raise RuntimeError(
                f"txn group {self.group_id} is already decided"
            )
        if self._did_prepare:
            raise RuntimeError(
                f"txn group {self.group_id} is already prepared; no "
                "further writes can join the group"
            )
        if table_name in self._tables:
            # Two prepares of one table would make the SECOND's base
            # an invisible own-group commit — disallowed (one commit
            # per table per group; batch frames via write_appends-style
            # unions before the txn instead).
            raise ValueError(
                f"table {table_name!r} is already prepared in txn group "
                f"{self.group_id} (one commit per table per group)"
            )

    def _replay_skip(
        self, table_name: str, txn: tuple[str, int] | None
    ) -> dict | None:
        """Best-effort watermark pre-check (authoritative re-check
        happens per commit attempt inside the staged-commit loop)."""
        if txn is None:
            return None
        pre = self.store._latest_commit(table_name)
        if (
            pre is not None
            and (pre[1].get("txns") or {}).get(txn[0], -1) >= txn[1]
        ):
            return {"version": pre[0], "skipped": True}
        return None

    def write_append(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str] | None = None,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        self._check_open(table_name)
        skip = self._replay_skip(table_name, txn)
        if skip is not None:
            return skip
        snap = self.store._latest_commit(table_name)
        entry = self.store._prep_and_stage(df, table_name, primary_keys, snap)
        # aux carries the declared merge keys: the group's first
        # append to a fresh table records them (see
        # _commit_staged_append) exactly like a standalone append
        self._staged.append(("append", table_name, entry, primary_keys, txn))
        self._tables.add(table_name)
        return {"skipped": False, "staged": True}

    def write_replace(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str] | None = None,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        self._check_open(table_name)
        skip = self._replay_skip(table_name, txn)
        if skip is not None:
            return skip
        prior = self.store._latest_commit(table_name)
        checks = (prior[1].get("checks") or {}) if prior else {}
        if isinstance(df, LocalRows) and (checks or primary_keys):
            df = df.to_df(self.store.spark)
        if checks:
            df = self.store._enforce_checks(df, {"checks": checks})
        df = self.store._with_bucket(df, primary_keys)
        entry = self.store._stage(df, table_name)
        self._staged.append(("replace", table_name, entry, checks, txn))
        self._tables.add(table_name)
        return {"skipped": False, "staged": True}

    def write_merge(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str],
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """MERGE stages eagerly like append/replace: the rewrite's
        Spark jobs (touched-bucket read, latest-wins, stage dir) run
        NOW against the current snapshot, but no commit slot is
        claimed until :meth:`prepare`. A plan is only valid against
        the snapshot it read, so :meth:`prepare` re-plans it if the
        table moved in between — still before any slot is held — and
        the slot-claiming window stays metadata PUTs for all three
        verbs (pre-split, 8-way contention force-aborted ~95% of
        merge-bearing groups; the reference holds its finalization
        lock only for the SQL transaction, never the load —
        ``airbyte/shared/sql_processor.py:393-401``)."""
        self._check_open(table_name)
        skip = self._replay_skip(table_name, txn)
        if skip is not None:
            return skip
        pks = list(primary_keys)
        replan = lambda: self.store._plan_merge(  # noqa: E731
            df, table_name, pks, txn
        )
        plan = replan()
        if plan.get("skipped"):
            return {"version": plan["version"], "skipped": True}
        self._staged.append(("plan", table_name, plan, replan, txn))
        self._tables.add(table_name)
        return {"skipped": False, "staged": True}

    def add_column(
        self,
        table_name: str,
        name: str,
        type_ddl: str,
        *,
        default=None,
    ) -> dict:
        """Metadata ADD COLUMN as a txn-group member: the schema
        change becomes visible atomically WITH the group's other
        prepares — the natural shape of a pipeline migration (add a
        column to the raw table + backfill the clean table in ONE
        group; a reader joining both never sees the half-migrated
        state). Validation runs now against the current snapshot
        (fail fast); the manifest rebuilds at :meth:`prepare` if the
        table moved. One commit per table per group still holds: the
        added column and a data write to the SAME table need separate
        groups. Reference point: the reference adds missing columns
        inside the same sync's finalization
        (``airbyte/shared/sql_processor.py:934-981``)."""
        return self._stage_plan(
            table_name,
            lambda: self.store._plan_add_column(
                table_name, name, type_ddl, default
            ),
        )

    def rename_column(self, table_name: str, old: str, new: str) -> dict:
        """Metadata rename as a txn-group member (see
        :meth:`add_column` for the migration rationale)."""
        return self._stage_plan(
            table_name,
            lambda: self.store._plan_rename_column(table_name, old, new),
        )

    def drop_column(self, table_name: str, name: str) -> dict:
        """Metadata drop as a txn-group member."""
        return self._stage_plan(
            table_name,
            lambda: self.store._plan_drop_column(table_name, name),
        )

    def set_cluster_by(
        self, table_name: str, columns: "list[str] | None"
    ) -> dict:
        return self._stage_plan(
            table_name,
            lambda: self.store._plan_set_cluster_by(table_name, columns),
        )

    def set_check(self, table_name: str, name: str, expr: str) -> dict:
        """CHECK constraint add as a txn-group member — existing rows
        are re-validated at prepare() if the table moved."""
        return self._stage_plan(
            table_name,
            lambda: self.store._plan_set_check(table_name, name, expr),
        )

    def drop_check(self, table_name: str, name: str) -> dict:
        """CHECK constraint drop as a txn-group member."""
        return self._stage_plan(
            table_name,
            lambda: self.store._plan_drop_check(table_name, name),
        )

    def _stage_plan(self, table_name: str, replan) -> dict:
        """Stage a snapshot-specific plan (validated NOW, rebuilt at
        :meth:`prepare` if the table moves) — the shared shape of
        every metadata verb in a group."""
        self._check_open(table_name)
        self._staged.append(("plan", table_name, replan(), replan, None))
        self._tables.add(table_name)
        return {"skipped": False, "staged": True}

    def write(
        self,
        df: DataFrame,
        table_name: str,
        method,
        primary_keys: list[str] | None = None,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Method dispatcher mirroring :meth:`TableStore.write`, for
        callers that route a whole sync through one group (the atomic
        multi-stream sync): every stream stages at call time and the
        slot-claiming burst happens at commit — N streams' Spark jobs
        never run while an earlier stream's slot is held."""
        from pyairbyte_spark.strategies import WriteMethod

        if method == WriteMethod.APPEND:
            return self.write_append(df, table_name, primary_keys, txn=txn)
        if method == WriteMethod.REPLACE:
            return self.write_replace(df, table_name, primary_keys, txn=txn)
        if method == WriteMethod.MERGE:
            return self.write_merge(
                df, table_name, primary_keys or [], txn=txn
            )
        raise ValueError(f"unknown write method {method}")  # pragma: no cover

    def rebucket_table(self, table_name: str, n_buckets: int | None) -> dict:
        """Bucket-layout evolution as a txn-group member: the
        one-shuffle migration stages NOW, the layout flip lands with
        the group's decision — two tables of a follower chain can
        migrate layouts in one atomic step."""
        self._check_open(table_name)
        replan = lambda: self.store._plan_rebucket(  # noqa: E731
            table_name, n_buckets
        )
        plan = replan()
        if plan.get("skipped"):
            return {"rebucketed": False, "skipped": True}
        self._staged.append(("plan", table_name, plan, replan, None))
        self._tables.add(table_name)
        return {"skipped": False, "staged": True}

    # -- decide --------------------------------------------------------------

    def prepare(self) -> dict[str, int]:
        """Phase 1: publish every staged write as an (invisible)
        prepare commit — fast, PUT-only. Normally implicit in
        :meth:`commit`; call explicitly to hold an in-flight group
        open (tests, or coordinators that decide later).

        Merge plans are refreshed FIRST (a plan staged against a
        snapshot the table has since moved past must re-run its Spark
        jobs) — all re-planning happens before the first slot is
        claimed, so the slot-holding window stays metadata PUTs even
        when every merge went stale. A collision DURING the PUT burst
        still re-plans in place (rare: the window is milliseconds)."""
        if self._did_prepare:
            return dict(self.prepared)
        self._did_prepare = True
        staged, self._staged = self._staged, []
        refreshed: list[tuple] = []
        for item in staged:
            kind, table_name, payload, aux, txn = item
            if kind == "plan":  # snapshot-specific: merge/rebucket/meta
                head = self.store._latest_commit(table_name)
                if (head[0] if head else 0) != payload["base_version"]:
                    # cheap manifest-only rebase first (bucket-disjoint
                    # interlopers); full replan (aux) otherwise
                    reb = payload.get("rebase")
                    payload = (reb() if reb is not None else None) or aux()
                    if payload.get("skipped"):
                        continue
                    item = (kind, table_name, payload, aux, txn)
            refreshed.append(item)
        # Planned verbs claim first: their collision path RE-PLANS
        # (possibly Spark jobs) — running that before any
        # append/replace slot is claimed keeps even the rare mid-burst
        # collision from holding another table's slot through a
        # staging job.
        refreshed.sort(key=lambda it: it[0] != "plan")
        for kind, table_name, payload, aux, txn in refreshed:
            if kind == "append":
                res = self.store._commit_staged_append(
                    table_name,
                    payload,
                    txn=txn,
                    txn_group=self.group_id,
                    primary_keys=aux,
                )
            elif kind == "replace":
                res = self.store._commit_staged_replace(
                    table_name, payload, aux, txn=txn,
                    txn_group=self.group_id,
                )
            else:
                res = self.store._commit_planned(
                    table_name, payload, aux, txn_group=self.group_id
                )
            if not res.get("skipped"):
                self.prepared[table_name] = res["version"]
        return dict(self.prepared)

    def commit(self) -> dict[str, int]:
        """Prepare anything still staged, then decide COMMIT. Returns
        {table: version} of the now-visible prepared commits. Raises
        :class:`TxnGroupAbortedError` if a concurrent writer
        force-aborted the group first (nothing became visible;
        re-run); a prepare that exhausts its retry budget aborts the
        group and re-raises."""
        try:
            self.prepare()
        except BaseException:
            self._closed = True
            self.store._decide_group(self.group_id, "abort")
            raise
        self._closed = True
        verdict = self.store._decide_group(self.group_id, "commit")
        if verdict != "commit":
            raise TxnGroupAbortedError(
                f"txn group {self.group_id} was force-aborted by a "
                "concurrent writer before commit; none of its prepared "
                f"states became visible (prepared: {self.prepared})"
            )
        return dict(self.prepared)

    def abort(self) -> None:
        """Decide ABORT (idempotent — re-aborting an aborted group is
        a no-op). Raises :class:`TxnGroupCommittedError` when the group
        already decided COMMIT (this handle's own earlier ``commit()``,
        or a racing decision): the caller asked for nothing-visible but
        everything IS visible — silence here would let it believe the
        opposite."""
        self._closed = True
        verdict = self.store._decide_group(self.group_id, "abort")
        if verdict == "commit":
            raise TxnGroupCommittedError(
                f"txn group {self.group_id} already decided COMMIT; "
                "its prepared states are visible and cannot be aborted"
            )

    def __enter__(self) -> "MultiTableTxn":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self._closed:
            return
        if exc_type is None:
            self.commit()
        else:
            self.abort()

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"MultiTableTxn({self.group_id!r}, prepared={self.prepared!r})"
        )


def _agg_alias(fn: str, col: str) -> str:
    return f"{fn}_star" if col == "*" else f"{fn}_{col}"


def _file_live(live: "list | None", f: dict) -> bool:
    """Bucket liveness of one manifest file: live unless its entry
    lists ``live`` buckets and the file's bucket is not among them
    (superseded bucket data in a carried merge dir)."""
    return live is None or f.get("bucket") is None or f["bucket"] in live


def _live_file_col():
    """:func:`_file_live` over a checkpoint-sidecar frame: its file
    rows (header rows carry no ``file_path``) whose bucket is live."""
    return F.col("file_path").isNotNull() & (
        F.col("entry_buckets").isNull()
        | F.col("bucket").isNull()
        | F.expr("array_contains(entry_buckets, bucket)")
    )


def _entry_base_col():
    """A sidecar header row's ``base``: the source table's root that a
    SHALLOW-CLONE entry's dir lives under (null for own dirs)."""
    return F.get_json_object(F.col("extra"), "$.base")


# Schema JSON spells primitives differently from simpleString() (the
# _EXACT_STAT_TYPES / _SUM_STAT_TYPES domain).
_JSON_TYPES = {
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "byte": "tinyint",
}


def _recorded_types(schema_json: str) -> "dict[str, str]":
    """Physical column -> simpleString() type of every primitive field
    of a recorded schema JSON."""
    return {
        fld["name"]: _JSON_TYPES.get(fld["type"], fld["type"])
        for fld in json.loads(schema_json)["fields"]
        if isinstance(fld.get("type"), str)
    }


def _agg_meta_answer(
    f: dict,
    specs: "list[tuple[str, str]]",
    phys_of: "dict[str, str]",
    exact_minmax: "set[str]",
) -> "dict | None":
    """Stats-tier contributions of a must-match file for EVERY
    requested aggregate, or None when any is unanswerable from the
    footer stats: ``count(*)`` from the row count, ``count(col)`` from
    rows − nulls, ``min/max(col)`` from the zone map when the column's
    type makes footer min/max exact values, ``sum(col)`` from the
    store-harvested per-file sum when present. Module-level (not a
    closure over the store) so both :meth:`agg_where`'s driver loop
    and the distributed classifier's pandas UDF can ship it to
    executors."""
    rows = f.get("rows")
    if rows is None:
        return None
    if rows == 0:
        return {}
    stats = f.get("stats") or {}
    out: dict = {}
    for fn, col in specs:
        a = _agg_alias(fn, col)
        if fn == "count" and col == "*":
            out[a] = rows
            continue
        cs = stats.get(phys_of[col])
        if fn == "count":
            nulls = (cs or {}).get("nulls")
            if nulls is None:
                return None
            out[a] = rows - nulls
            continue
        if fn == "avg":
            # agg_where expands avg -> sum + count before classifying;
            # a direct avg spec has no stats tier
            return None
        if fn == "sum":
            # harvested at staging (harvest_sums / build_sum_stats) —
            # parquet footers carry no sum, so absence = scan tier
            if cs is None:
                return None
            nulls = cs.get("nulls")
            if nulls is not None and nulls >= rows:
                continue  # all-null: SQL SUM ignores it
            s = cs.get("sum")
            if s is None:
                return None
            out[a] = s
            continue
        if col not in exact_minmax or cs is None:
            return None
        nulls = cs.get("nulls")
        if nulls is not None and nulls >= rows:
            continue  # all-null: contributes no candidate
        v = cs.get("min" if fn == "min" else "max")
        if v is None:
            return None
        out[a] = v
    return out


def _agg_file_tier(
    f: dict,
    preds: "list[list[tuple]]",
    specs: "list[tuple[str, str]]",
    phys_of: "dict[str, str]",
    exact_minmax: "set[str]",
    meta: bool = True,
) -> "str | dict":
    """One live file's aggregate-pushdown tier: ``"P"`` when its zone
    maps prove no row matches the physical DNF ``preds`` (pruned),
    the :func:`_agg_meta_answer` contribution when every row provably
    matches and every aggregate is stats-answerable, else ``"S"``
    (scanned). ``meta=False`` turns the metadata tier off (merge-on-read
    deletes poison footer stats). Module-level so the driver loop and
    the distributed classifier's pandas UDF run the same code."""
    from pyairbyte_spark.filestats import file_may_match_dnf, file_must_match_dnf

    if not file_may_match_dnf(f, preds):
        return "P"
    if not meta or not file_must_match_dnf(f, preds):
        return "S"
    contrib = _agg_meta_answer(f, specs, phys_of, exact_minmax)
    return "S" if contrib is None else contrib


def _newest_schema(man: "dict | None") -> "str | None":
    """A manifest's newest recorded physical schema JSON: the newest
    entry's ``schema``, else the top-level field every commit carries
    (so a manifest with zero entries still has one), else None."""
    man = man or {}
    return next(
        (
            e["schema"]
            for e in reversed(man.get("entries") or [])
            if e.get("schema")
        ),
        man.get("schema") or None,
    )


def _file_may_survive(
    f: dict, fb: "dict | None", preds: "list[list[tuple]]"
) -> bool:
    """Whether scan planning keeps one live file for the physical DNF
    ``preds``: its zone maps must admit a match, then its bloom bits
    ``fb`` (``{col: (m, k, bits)}``) must too. ``fb`` is None for a
    file the index does not cover, which is conservatively kept.
    Module-level so the driver loop and the pandas UDF of
    :func:`_survive_udf` run the same code."""
    from pyairbyte_spark import bloom
    from pyairbyte_spark.filestats import file_may_match_dnf

    if not file_may_match_dnf(f, preds):
        return False
    return fb is None or bool(bloom.dnf_may_match(fb, preds))


def _bloom_bits(d) -> "tuple[int, int, bytes]":
    """One bloom-index row (or joined struct) as ``(m, k, bits)``."""
    return int(d["m"]), int(d["k"]), bytes(d["bits"])


def _survive_udf(preds: "list[list[tuple]]"):
    """A boolean pandas UDF over ``(stats, rows, sv, __blooms)``
    applying :func:`_file_may_survive` per row: the sidecar's JSON
    zone maps and the bloom structs joined by
    :meth:`CommitLogTableStore._bloom_join`. A null ``__blooms``
    (uncovered; None or NaN after the Arrow->pandas conversion) and
    null stats/rows keep the file."""
    import numpy as np

    @F.pandas_udf("boolean")
    def _survives(
        stats: pd.Series, rows: pd.Series, sv: pd.Series, blooms: pd.Series
    ) -> pd.Series:
        out = []
        for s, r, v, b in zip(stats, rows, sv, blooms):
            fe = {
                "stats": None if s is None else json.loads(s),
                "rows": None if pd.isna(r) else int(r),
                "sv": None if pd.isna(v) else int(v),
            }
            fb = (
                {d["col"]: _bloom_bits(d) for d in b}
                if isinstance(b, (list, tuple, np.ndarray)) and len(b)
                else None
            )
            out.append(_file_may_survive(fe, fb, preds))
        return pd.Series(out)

    return _survives


def _agg_scan_exprs(
    specs: "list[tuple[str, str]]", col_of: "dict[str, str] | None" = None
) -> list:
    """Spark aggregate expressions computing every spec from data,
    aliased ``{fn}_{col}``; ``col_of`` maps logical to physical names
    for frames read before column mapping."""
    col_of = col_of or {}
    out = []
    for fn, col in specs:
        if fn == "count":
            e = F.count(F.lit(1) if col == "*" else F.col(col_of.get(col, col)))
            e = e.cast("long")
        else:
            e = getattr(F, fn)(F.col(col_of.get(col, col)))
        out.append(e.alias(_agg_alias(fn, col)))
    return out


def _agg_merge(specs: "list[tuple[str, str]]", a: dict, b: dict) -> dict:
    """Combine two partial aggregate dicts keyed by alias (a metadata
    contribution, a metadata-tier fold, a scan result): counts add,
    sums add, min/max fold; a missing or None side contributes nothing,
    so an empty match set keeps SQL semantics (count 0, others None)."""
    out: dict = {}
    for fn, col in specs:
        k = _agg_alias(fn, col)
        if fn == "count":
            out[k] = int(a.get(k) or 0) + int(b.get(k) or 0)
            continue
        vals = [v for v in (a.get(k), b.get(k)) if v is not None]
        if not vals:
            out[k] = None
        elif fn == "sum":
            out[k] = sum(vals)
        else:
            out[k] = min(vals) if fn == "min" else max(vals)
    return out


def _zone_merge(
    acc: dict, dead: set, col: str, st: dict, files: int = 1
) -> None:
    """Fold one column's zone map ``st`` (covering ``files`` live
    files) into ``acc``. ``acc[col]["files"]`` counts the live files
    CARRYING the column's stats: min/max are proofs over the whole
    table only when it equals the table's file count (a stat-less
    legacy file could hold anything). Columns whose mins do not compare
    (mixed types across schema evolution) move to ``dead`` for good."""
    if col in dead:
        return
    cur = acc.get(col)
    if cur is None:
        acc[col] = {**st, "files": files}
        return
    cur["files"] += files
    try:
        cur["min"] = min(cur["min"], st["min"])
    except TypeError:
        dead.add(col)
        del acc[col]
        return
    if cur.get("max") is None or st.get("max") is None:
        cur["max"] = None
    else:
        cur["max"] = max(cur["max"], st["max"])
    if cur.get("nulls") is None or st.get("nulls") is None:
        cur["nulls"] = None
    else:
        cur["nulls"] += st["nulls"]


class CommitLogTableStore(TableStore):
    """ACID table store: immutable parquet data dirs + atomic commit log.

    This is the "Delta commit seam" the module docstring promises, made
    real without the delta package. Layout per table::

        <root>/<table>/_commits/<version %020d>.json   # manifests
        <root>/<table>/d-<hex>/                        # data dirs
        <root>/<table>/d-<hex>/__pk_bucket=N/          # bucketed layout

    Every commit file is a FULL snapshot manifest (not a delta log):
    ``{"op", "merge_buckets", "entries": [{"path", "buckets"}]}`` where
    ``buckets`` lists the bucket partitions of that directory still
    LIVE in this snapshot (``None`` for unbucketed dirs). Readers
    resolve the highest version and scan exactly the listed (dir,
    live-buckets) pairs — bucket filters hit Spark's partition pruning,
    so superseded bucket data in old dirs is never read.

    Commit publication is a single atomic create-exclusive PUT through
    the FileIO seam (``fileio.py``: local = hard link of a fully
    written temp; HDFS = temp + contract rename; object stores =
    conditional PUT), so two writers can never both claim a version —
    the loser gets :class:`ConcurrentCommitError`. Data directories
    are staged BEFORE the commit and are immutable after it; a crash
    anywhere before publication leaves the previous snapshot fully
    intact (all-or-nothing REPLACE and MERGE — the property the
    rename-swap parquet store lacks). Old versions stay readable
    (:meth:`read_version`) until :meth:`vacuum`.

    At 100 TB: an incremental merge stages only the touched buckets'
    worth of data and flips one tiny JSON file; the manifest scales
    with live data directories (compacted by full-rewrite merges and
    replaces), not with table size. Deploy where the data lives by
    passing ``fileio=HadoopFileIO(spark, root_uri)`` (or a
    conditional-PUT FileIO for S3-class stores) — the protocol —
    stage-then-publish with create-exclusive commits — is identical
    on every backend and is exercised against object-store semantics
    in ``tests/test_fileio.py`` (reference REPLACE parity:
    ``sql_processor.py:1061-1087``, upgraded from "atomic-ish" to
    atomic).
    """

    COMMIT_DIR = "_commits"
    # Optimistic-concurrency retry budget. Appends/replaces/merges are
    # position-independent or re-computed per attempt, so retrying is
    # always safe — the bound only guards against livelock. Sized for
    # bursty contention (N writers racing one table need ~N rounds for
    # the last to land); _retry_pause adds jitter so racers desynchronize
    # instead of stampeding the next slot together.
    _COMMIT_RETRIES = 24

    @staticmethod
    def _retry_pause(attempt: int) -> None:
        import random as _random

        time.sleep(_random.uniform(0, min(0.02 * (attempt + 1), 0.3)))
    # Snapshot reads union per-entry frames BY NAME, whose coercion
    # widens numeric types safely — see _check_schema_compat.
    _ALLOW_NUMERIC_WIDENING = True

    # -- commit-log primitives ---------------------------------------------

    def _commits_dir(self, table_name: str) -> str:
        return os.path.join(self.table_path(table_name), self.COMMIT_DIR)

    def _latest_commit(self, table_name: str) -> tuple[int, dict] | None:
        """The newest VISIBLE snapshot. A commit carrying a
        ``txn_group`` is visible iff its group decided COMMIT; the walk
        skips undecided (in-flight) and aborted prepares WITHOUT
        resolving them — pure readers never force a verdict (that is
        the slot-contending writer's job; see :meth:`_commit`).
        Invariant kept by ``_commit``: only head commits can be
        undecided (taking a slot above one resolves it first), so this
        walk is O(1) for every table no txn ever touched and O(head
        prepares) otherwise."""
        v = self._discover_latest(table_name)
        if v is None:
            return None
        return self._visible_at_or_below(table_name, v)

    def _visible_at_or_below(
        self, table_name: str, v: int
    ) -> tuple[int, dict] | None:
        on_branch = self._branch is not None
        floor = self._branch_info(table_name)["base"] if on_branch else None
        while v >= 1:
            if on_branch and v <= floor:
                # At/below the fork point a branch's history IS main's:
                # fall through to the untagged walk.
                on_branch = False
            cached = self._man_cache.get((table_name, v))
            header = (
                cached
                if cached is not None
                else self._read_commit_json(table_name, v)
            )
            if (
                self._ref_match(table_name, header)
                if on_branch
                else header.get("branch") is None
            ):
                gid = header.get("txn_group")
                if gid is None or self._group_verdict(gid) == "commit":
                    return v, (
                        cached
                        if cached is not None
                        else self._read_manifest(table_name, v)
                    )
            v -= 1
        return None

    # -- multi-table txn groups ----------------------------------------------
    # One decision file per group under <root>/_txngroups/; the
    # create-exclusive PUT of that file is the cross-table atomicity
    # point. See MultiTableTxn for the full protocol.

    _TXN_GROUP_DIR = "_txngroups"
    # How long a slot-blocked writer polls an in-flight group's
    # decision before force-aborting it (writer-driven recovery).
    # The window a live coordinator must fit is prepare()->decide —
    # metadata PUTs only (staging happens before any slot is claimed),
    # so seconds of grace covers even a loaded driver; a genuinely
    # crashed coordinator costs each FIRST contender one grace wait,
    # after which the abort verdict is cached for everyone.
    TXN_RESOLVE_GRACE_S = 10.0

    def _txn_decision_path(self, group_id: str) -> str:
        return os.path.join(
            self.root, self._TXN_GROUP_DIR, f"{group_id}.json"
        )

    def _group_verdict(self, group_id: str) -> str | None:
        """"commit" / "abort" / None (undecided). Decided verdicts are
        immutable → cached forever; undecided costs one existence-ish
        read per call (only ever paid while a prepare is in flight)."""
        v = self._txn_verdicts.get(group_id)
        if v is not None:
            return v
        try:
            v = json.loads(
                self.io.read_text(self._txn_decision_path(group_id))
            )["verdict"]
        except Exception:
            return None
        self._txn_verdicts[group_id] = v
        return v

    def _decide_group(self, group_id: str, verdict: str) -> str:
        """Attempt to decide ``group_id``; returns the verdict that
        actually WON (exactly one of any number of concurrent
        commit/abort attempts lands — same conditional-PUT exclusivity
        as the commit log)."""
        self.io.makedirs(os.path.join(self.root, self._TXN_GROUP_DIR))
        path = self._txn_decision_path(group_id)
        self.io.put_if_absent(
            path, json.dumps({"verdict": verdict, "ts": int(time.time())})
        )
        won = json.loads(self.io.read_text(path))["verdict"]
        self._txn_verdicts[group_id] = won
        return won

    def _resolve_group(self, group_id: str) -> str:
        """Writer-driven recovery: poll the decision for the grace
        window, then force ABORT. Called only by a writer whose commit
        slot is occupied by this group's prepare — a crashed
        coordinator never wedges the table, and a live one that loses
        the race gets TxnGroupAbortedError from its own commit()."""
        deadline = time.monotonic() + self.TXN_RESOLVE_GRACE_S
        while True:
            v = self._group_verdict(group_id)
            if v is not None:
                return v
            if time.monotonic() >= deadline:
                return self._decide_group(group_id, "abort")
            time.sleep(0.05)

    def begin_txn(self, group_id: str | None = None) -> MultiTableTxn:
        """Open an atomic multi-table transaction (see
        :class:`MultiTableTxn`): prepares via ``txn.write_append`` /
        ``txn.write_replace`` stay invisible to every reader until
        ``txn.commit()`` flips ONE decision file — a raw→clean→agg
        pipeline step lands everywhere or nowhere, closing the torn-
        read window that per-table atomicity alone leaves open
        (:meth:`snapshot` pins are the READ-side half; this is the
        WRITE side)."""
        if self._branch is not None:
            raise ValueError(
                "multi-table txn groups are main-ref only; a branch IS "
                "a staging area — publish_branch is its atomic flip"
            )
        return MultiTableTxn(self, group_id)

    def txn_group_status(self, group_id: str) -> str:
        """"commit" / "abort" / "in-flight" — audit surface."""
        return self._group_verdict(group_id) or "in-flight"

    def vacuum_txn_decisions(self, *, keep_hours: float = 24.0) -> dict:
        """Reclaim txn-group DECISION files — the store-level
        counterpart of per-table :meth:`vacuum`. Every group leaves one
        tiny ``_txngroups/<gid>.json`` forever; a year of atomic ingest
        is millions of files in one directory — the classic object-
        store listing ceiling, on metadata no one reads anymore.

        A decision is reclaimable iff (1) NO retained commit of ANY
        table still carries its group id — while a prepare commit
        (committed, aborted, or undecided) is in a retention window,
        its verdict must stay resolvable: deleting a COMMIT verdict
        would make its visible snapshots skip to undecided, and
        deleting an ABORT verdict would re-flag interior slots as
        undecided in FSCK — and (2) the decision is older than
        ``keep_hours`` (grace against a stale table scan racing a
        group between its prepare PUTs and this listing; a fresh
        decision always survives). Referenced-gid collection reads
        each retained commit's small header JSON — O(retained
        commits), no manifest resolution. Run after table vacuums
        (they shrink the referenced set)."""
        gdir = os.path.join(self.root, self._TXN_GROUP_DIR)
        try:
            names = [
                n for n in self.io.list_names(gdir) if n.endswith(".json")
            ]
        except Exception:
            names = []
        if not names:
            return {"deleted": 0, "kept_referenced": 0, "kept_recent": 0}
        referenced: set[str] = set()
        for table in self.list_tables():
            try:
                commit_names = self.io.list_names(self._commits_dir(table))
            except Exception:
                continue
            for n in commit_names:
                if not (n.endswith(".json") and n[:-5].isdigit()):
                    continue
                try:
                    gid = self._read_commit_json(table, int(n[:-5])).get(
                        "txn_group"
                    )
                except Exception:
                    continue
                if gid:
                    referenced.add(gid)
        cutoff = time.time() - keep_hours * 3600
        deleted = kept_ref = kept_recent = 0
        for n in names:
            gid = n[:-5]
            if gid in referenced:
                kept_ref += 1
                continue
            try:
                ts = (
                    json.loads(self.io.read_text(os.path.join(gdir, n))).get(
                        "ts"
                    )
                    or 0
                )
            except Exception:
                continue  # unreadable/racing: leave it for the next pass
            if ts >= cutoff:
                kept_recent += 1
                continue
            self.io.delete_file(os.path.join(gdir, n))
            self._txn_verdicts.pop(gid, None)
            deleted += 1
        return {
            "deleted": deleted,
            "kept_referenced": kept_ref,
            "kept_recent": kept_recent,
        }

    # -- branches & tags (named refs) ----------------------------------------
    # Iceberg-style refs over the same commit log: a BRANCH is a named
    # fork for write-audit-publish (writes land as commits tagged with
    # the branch name + the ref's incarnation id, permanently invisible
    # to main readers; publish fast-forwards main with ONE ordinary
    # commit), a TAG is an immutable named version pin. Refs live as
    # tiny JSON files under <table>/_refs/ created with the same
    # conditional PUT as commits. Branch commits claim slots from the
    # shared version sequence — writers on any ref slide past commits
    # that can never be visible on THEIR ref, so main and N branches
    # interleave in one log without coordination. The incarnation id
    # makes drop+recreate safe: commits of a dead incarnation never
    # resurrect into a new branch of the same name.
    # Reference point: the reference's whole-sync temp-table staging
    # (airbyte/shared/sql_processor.py:1061-1087) is per-table WAP with
    # no audit step; this is the table-graph version with one.

    _REFS_DIR = "_refs"
    _branch: "str | None" = None  # main view; branch views override

    def _refs_dir(self, table_name: str) -> str:
        return os.path.join(self.table_path(table_name), self._REFS_DIR)

    def _ref_path(self, table_name: str, name: str) -> str:
        return os.path.join(self._refs_dir(table_name), f"{name}.json")

    @staticmethod
    def _check_ref_name(name: str) -> None:
        if name == "main" or not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(
                f"invalid ref name {name!r} (alnum/._- up to 64 chars, "
                "'main' is reserved)"
            )

    def _read_ref(self, table_name: str, name: str) -> dict:
        try:
            return json.loads(
                self.io.read_text(self._ref_path(table_name, name))
            )
        except OSError as e:
            raise FileNotFoundError(
                f"table {table_name!r} has no ref {name!r}"
            ) from e

    def _branch_info(self, table_name: str) -> dict:
        """The branch view's ref record for ``table_name`` — read once
        per (view, table) and pinned: the view stays on the incarnation
        it was opened against even if the name is dropped/recreated."""
        info = self._branch_refs.get(table_name)
        if info is None:
            info = self._read_ref(table_name, self._branch)
            if info.get("type") != "branch":
                raise ValueError(
                    f"ref {self._branch!r} of {table_name!r} is a tag, "
                    "not a branch"
                )
            self._branch_refs[table_name] = info
        return info

    def _ref_match(self, table_name: str, header: dict) -> bool:
        """Does this commit belong to the current view's ref tip chain?
        Main: untagged commits only. Branch: commits stamped with this
        branch name AND incarnation id."""
        if self._branch is None:
            return header.get("branch") is None
        info = self._branch_info(table_name)
        return (
            header.get("branch") == self._branch
            and header.get("branch_ref") == info["id"]
        )

    def create_branch(
        self, table_name: str, name: str, *, at_version: int | None = None
    ) -> dict:
        """Fork a named branch at the current visible head (or an
        explicit readable ``at_version``). Creation is one conditional
        PUT of a ~100-byte ref file — no data moves. Raises if the ref
        name exists."""
        if self._branch is not None:
            raise ValueError("create branches from the main view")
        self._check_ref_name(name)
        if at_version is not None:
            self._require_visible(
                table_name,
                at_version,
                self._read_commit_json(table_name, at_version),
            )
            base = at_version
        else:
            base = self._visible_head_version(table_name)
            if base is None:
                raise FileNotFoundError(
                    f"table {table_name!r} does not exist"
                )
        ref = {
            "type": "branch",
            "base": base,
            "id": uuid.uuid4().hex,
            "ts": int(time.time()),
        }
        self.io.makedirs(self._refs_dir(table_name))
        if not self.io.put_if_absent(
            self._ref_path(table_name, name), json.dumps(ref)
        ):
            raise ValueError(
                f"ref {name!r} already exists on {table_name!r}"
            )
        return ref

    def branch(self, name: str) -> "CommitLogTableStore":
        """A VIEW of this store pinned to branch ``name``: the full
        read + DML surface (read/read_where/append/replace/merge/
        delete/update/optimize/...) operates on the branch's tip, never
        touching main. Shares the parent's session, FileIO and caches;
        only the ref context differs. Multi-table txn groups stay
        main-only (a branch IS the staging area — publish is the
        atomicity point)."""
        import copy as _copy

        if self._branch is not None:
            raise ValueError("already a branch view; branch from main")
        self._check_ref_name(name)
        view = _copy.copy(self)
        view._branch = name
        view._branch_refs = {}
        return view

    def refs(self, table_name: str) -> dict[str, dict]:
        """All named refs of ``table_name`` (branches + tags)."""
        try:
            names = self.io.list_names(self._refs_dir(table_name))
        except OSError:
            return {}
        return {
            n[:-5]: self._read_ref(table_name, n[:-5])
            for n in sorted(names)
            if n.endswith(".json")
        }

    def branch_head(self, table_name: str, name: str) -> int:
        """The branch's current tip version (its base while the branch
        has no commits of its own)."""
        snap = self.branch(name)._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        return snap[0]

    def drop_branch(self, table_name: str, name: str) -> None:
        """Delete the ref. The branch's commits stay in the log as an
        audit trail (invisible on every ref) until vacuum's horizon
        passes them — dropping the ref is what releases vacuum's
        retention floor."""
        ref = self._read_ref(table_name, name)
        if ref.get("type") != "branch":
            raise ValueError(f"ref {name!r} is a tag; use drop_tag")
        self.io.delete_file(self._ref_path(table_name, name))

    def publish_branch(
        self,
        table_name: str,
        name: str,
        *,
        drop: bool = True,
        mode: str = "ff",
    ) -> int:
        """Write-audit-publish, the publish half: fast-forward main to
        the branch tip with ONE ordinary main commit whose manifest is
        the branch head's (op ``publish_branch``). Atomic like every
        commit — readers see all audited changes or none; the change
        feed classifies the publish against main's head exactly (the
        branch forked from it). Fast-forward only by default: if main
        advanced past the fork point the publish raises instead of
        silently merging unaudited state (re-fork and re-audit).

        ``mode="rebase-appends"`` relaxes that for APPEND-ONLY
        branches: blind appends commute with any concurrent main
        history (Delta's AddFile-only conflict rule), so the publish
        grafts the branch's added entries onto the CURRENT main head —
        equivalent to the serial order "main's commits, then the
        branch's appends". Refused (raises) when any branch commit is
        not an append, or when main rebucketed since the fork (the
        branch's files were hashed with the old layout). Idempotent
        ``txn`` watermarks that advanced on the branch merge into
        main's map, so exactly-once streaming ingest survives the
        graft. Returns the published main version; no-op (returns main
        head) when the branch has no commits."""
        if mode not in ("ff", "rebase-appends"):
            raise ValueError(f"unknown publish mode {mode!r}")
        view = self.branch(name)
        bh = view._latest_commit(table_name)
        if bh is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        bh_v, bh_man = bh
        base = view._branch_info(table_name)["base"]
        if bh_v <= base:  # nothing ever landed on the branch
            if drop:
                self.drop_branch(table_name, name)
            return base
        # CDF pairing keys for the publish commit: merge_keys are
        # per-commit (not carried), so recover the newest ones recorded
        # anywhere on the branch — without them the feed's endpoint
        # diff falls back to the unpaired digest and misses deletes.
        pub_keys = bh_man.get("merge_keys")
        w = bh_v - 1
        while pub_keys is None and w > base:
            try:
                hdr = self._read_commit_json(table_name, w)
            except FileNotFoundError:
                break
            if hdr.get("branch") == name and hdr.get("branch_ref") == (
                view._branch_info(table_name)["id"]
            ):
                pub_keys = hdr.get("merge_keys")
            w -= 1
        for _attempt in range(self._COMMIT_RETRIES):
            snap = self._latest_commit(table_name)
            main_v = snap[0] if snap else 0
            if main_v == base:
                manifest = {
                    k: v
                    for k, v in bh_man.items()
                    # entries_ref/n_entries point at the SOURCE commit's
                    # checkpoint sidecar; the resolved `entries` list is
                    # the data — carrying a stale ref would make every
                    # raw read of the publish re-read (and vacuum pin)
                    # the old sidecar.
                    if k
                    not in (
                        "branch",
                        "branch_ref",
                        "version",
                        "op",
                        "ts",
                        "entries_ref",
                        "n_entries",
                    )
                }
            elif mode == "rebase-appends":
                manifest = self._rebase_branch_appends(
                    table_name, name, view, base, bh_v, bh_man, snap[1]
                )
            else:
                raise ConcurrentCommitError(
                    f"cannot fast-forward {table_name!r} to branch "
                    f"{name!r}: main advanced {base}->{main_v} past the "
                    "fork point; re-create the branch and re-audit (or "
                    "publish an append-only branch with "
                    "mode='rebase-appends')"
                )
            manifest = {
                "op": "publish_branch",
                "published_branch": name,
                "published_version": bh_v,
                **manifest,
                **(
                    {"merge_keys": pub_keys}
                    if pub_keys and not manifest.get("primary_keys")
                    else {}
                ),
            }
            try:
                landed = self._commit(table_name, manifest, main_v + 1)
                if drop:
                    self.drop_branch(table_name, name)
                return landed
            except ConcurrentCommitError:
                self._retry_pause(_attempt)
                continue  # re-read main; the base check decides
        raise ConcurrentCommitError(
            f"publish of branch {name!r} to {table_name!r} lost "
            f"{self._COMMIT_RETRIES} commit races"
        )

    def _rebase_branch_appends(
        self,
        table_name: str,
        name: str,
        view: "CommitLogTableStore",
        base: int,
        bh_v: int,
        bh_man: dict,
        main_man: dict,
    ) -> dict:
        """The ``mode="rebase-appends"`` publish manifest: main head's
        manifest (its metadata is the survivor — mapping, checks,
        bloom, DVs, keys) plus the branch's ADDED entries. Legal only
        when every branch commit since the fork is a blind append and
        the bucket layout didn't move underneath."""
        ref_id = view._branch_info(table_name)["id"]
        w = bh_v
        while w > base:
            try:
                hdr = self._read_commit_json(table_name, w)
            except FileNotFoundError:
                w -= 1
                continue
            if (
                hdr.get("branch") == name
                and hdr.get("branch_ref") == ref_id
                and hdr.get("op") != "append"
            ):
                raise ConcurrentCommitError(
                    f"cannot rebase branch {name!r} onto advanced main: "
                    f"branch commit {w} is op {hdr.get('op')!r} (only "
                    "blind appends commute with concurrent main history)"
                )
            w -= 1
        base_man = self._read_manifest(table_name, base)
        if main_man.get("merge_buckets") != base_man.get("merge_buckets"):
            raise ConcurrentCommitError(
                f"cannot rebase branch {name!r}: main rebucketed "
                f"{base_man.get('merge_buckets')}->"
                f"{main_man.get('merge_buckets')} since the fork — the "
                "branch's files were hashed with the old layout"
            )
        base_paths = {e["path"] for e in base_man.get("entries") or []}
        added = [
            e
            for e in bh_man.get("entries") or []
            if e["path"] not in base_paths
        ]
        manifest = {
            k: v
            for k, v in main_man.items()
            # entries_ref/n_entries: stale sidecar pointers (see
            # publish_branch's ff path) — the resolved entries list
            # below is the authority.
            if k not in ("version", "op", "ts", "entries_ref", "n_entries")
        }
        manifest["entries"] = list(main_man.get("entries") or []) + added
        # Idempotence watermarks that advanced ON THE BRANCH graft into
        # main's map (exactly-once streaming ingest survives the rebase)
        base_tx = base_man.get("txns") or {}
        txns = dict(main_man.get("txns") or {})
        for app, v in (bh_man.get("txns") or {}).items():
            if v > base_tx.get(app, -1):
                txns[app] = max(v, txns.get(app, -1))
        if txns:
            manifest["txns"] = txns
        return manifest

    def create_tag(
        self, table_name: str, name: str, *, version: int | None = None
    ) -> dict:
        """Pin a readable snapshot under an immutable name (release
        audits, eval sets). Tagged versions hold vacuum's retention
        floor until the tag is dropped."""
        self._check_ref_name(name)
        v = (
            version
            if version is not None
            else self._visible_head_version(table_name)
        )
        if v is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        self._require_visible(
            table_name, v, self._read_commit_json(table_name, v)
        )
        ref = {"type": "tag", "version": v, "ts": int(time.time())}
        self.io.makedirs(self._refs_dir(table_name))
        if not self.io.put_if_absent(
            self._ref_path(table_name, name), json.dumps(ref)
        ):
            raise ValueError(
                f"ref {name!r} already exists on {table_name!r}"
            )
        return ref

    def read_tag(self, table_name: str, name: str) -> DataFrame:
        ref = self._read_ref(table_name, name)
        if ref.get("type") != "tag":
            raise ValueError(f"ref {name!r} is a branch; use branch()")
        return self.read_version(table_name, ref["version"])

    def drop_tag(self, table_name: str, name: str) -> None:
        ref = self._read_ref(table_name, name)
        if ref.get("type") != "tag":
            raise ValueError(f"ref {name!r} is a branch; use drop_branch")
        self.io.delete_file(self._ref_path(table_name, name))

    def _ref_retention_floor(self, table_name: str) -> int | None:
        """The oldest version any live ref pins (branch fork bases, tag
        versions) — vacuum keeps the contiguous window down to it so
        branch fallback reads and tag reads stay resolvable."""
        floors = []
        for ref in self.refs(table_name).values():
            if ref.get("type") == "branch":
                floors.append(ref["base"])
            elif ref.get("type") == "tag":
                floors.append(ref["version"])
        return min(floors) if floors else None

    def _require_visible(
        self, table_name: str, version: int, man: dict
    ) -> None:
        br = man.get("branch")
        if br is not None and br != self._branch:
            raise ValueError(
                f"version {version} of {table_name!r} belongs to branch "
                f"{br!r} and is not a snapshot on this ref"
            )
        gid = man.get("txn_group")
        if gid is None:
            return
        verdict = self._group_verdict(gid)
        if verdict != "commit":
            state = "aborted" if verdict == "abort" else "undecided"
            raise ValueError(
                f"version {version} of {table_name!r} belongs to "
                f"multi-table txn group {gid} ({state}) and is not a "
                "readable snapshot"
            )

    def _read_commit_json(self, table_name: str, version: int) -> dict:
        """One commit's raw JSON, WITHOUT expanding a checkpoint
        sidecar — O(KB) however many files the snapshot has."""
        path = os.path.join(self._commits_dir(table_name), f"{version:020d}.json")
        try:
            return json.loads(self.io.read_text(path))
        except OSError as e:
            raise FileNotFoundError(
                f"table {table_name!r} has no commit version {version}"
                " (never written, or vacuumed)"
            ) from e

    def _read_manifest_raw(self, table_name: str, version: int) -> dict:
        man = self._read_commit_json(table_name, version)
        ref = man.get("entries_ref")
        if ref is not None:  # parquet checkpoint sidecar (manifest.py)
            from pyairbyte_spark import manifest as mf

            data = self.io.read_bytes(
                os.path.join(self._commits_dir(table_name), ref)
            )
            man = {**man, "entries": mf.entries_from_parquet_bytes(data)}
        return man

    def _read_manifest(self, table_name: str, version: int) -> dict:
        """The RESOLVED (full-entries) manifest of ``version`` —
        walking the delta chain to its checkpoint when the stored form
        is incremental (``manifest.py``). Commits are immutable, so
        resolved manifests cache safely."""
        key = (table_name, version)
        cached = self._man_cache.get(key)
        if cached is not None:
            return cached
        from pyairbyte_spark import manifest as mf

        man = mf.resolve_manifest(
            lambda v: self._read_manifest_raw(table_name, v), version
        )
        self._cache_manifest(table_name, version, man)
        return man

    def _cache_manifest(self, table_name: str, version: int, man: dict) -> None:
        if len(self._man_cache) >= 8:
            self._man_cache.pop(next(iter(self._man_cache)))
        self._man_cache[(table_name, version)] = man

    def _invalidate_manifests(
        self, table_name: str, *, below: int | None = None
    ) -> None:
        """Drop cached manifests for ``table_name`` (versions < below,
        or all) — vacuum/drop delete the backing commits."""
        self._man_cache = {
            k: v
            for k, v in self._man_cache.items()
            if k[0] != table_name or (below is not None and k[1] >= below)
        }

    def _commit(self, table_name: str, manifest: dict, version: int) -> int:
        """Publish ``manifest`` at ``version`` (or the next free slot
        past aborted txn-group prepares — see below); returns the
        version that actually landed. One atomic create-exclusive PUT
        through the FileIO seam (local: temp + hard link; HDFS: temp +
        contract rename; object store: conditional PUT). Exactly one
        of any number of concurrent writers claims a slot.

        Txn-group slots: a PREPARE that never committed occupies its
        version number forever (commits are immutable) while staying
        invisible to readers. A writer whose PUT collides with one
        resolves the group (grace-poll, then force-abort — recovery is
        writer-driven) and SLIDES to the next slot when the group is
        aborted: the stored delta's explicit ``base`` pointer keeps
        chain resolution correct wherever the commit lands, and the
        nearest-visible-below version IS the manifest this commit was
        computed from, so CDF diffs stay exact. A group that resolves
        to COMMIT is a live concurrent commit → ConcurrentCommitError
        → the caller's normal rebase loop.

        Storage form (``manifest.py``): when the previous version
        resolves and the change is small, the stored JSON is a DELTA
        (base + add/replace/remove actions) — commit cost O(changed
        entries), not O(table). Every ``CHECKPOINT_INTERVAL``-th
        version is forced full, bounding resolution chains.
        """
        from pyairbyte_spark import manifest as mf

        if self._branch is not None:
            if manifest.get("txn_group"):
                raise ValueError(
                    "multi-table txn groups are main-ref only; a branch "
                    "IS a staging area — publish_branch is its atomic "
                    "visibility flip"
                )
            # Stamp name + incarnation id: ref-tip walks match on both,
            # so commits of a dropped branch can never resurrect into a
            # recreated branch of the same name.
            manifest = {
                **manifest,
                "branch": self._branch,
                "branch_ref": self._branch_info(table_name)["id"],
            }
        to_store = manifest
        if (
            version > 1
            and version % mf.CHECKPOINT_INTERVAL != 0
            and manifest.get("entries") is not None
        ):
            try:
                base = self._read_manifest(table_name, version - 1)
            except FileNotFoundError:
                base = None
            if base is not None and base.get("entries") is not None:
                delta = mf.diff_entries(base["entries"], manifest["entries"])
                if delta is not None:
                    top = {k: v for k, v in manifest.items() if k != "entries"}
                    to_store = {**top, "base": version - 1, **delta}
        # Wall-clock commit timestamp: audit metadata for history();
        # versions, not timestamps, remain the ordering authority.
        to_store = {"ts": int(time.time()), **to_store}
        attempt = version
        while True:
            target = os.path.join(
                self._commits_dir(table_name), f"{attempt:020d}.json"
            )
            data, sidecar = self._serialize_manifest(
                table_name, attempt, to_store
            )
            if self.io.put_if_absent(target, data):
                break
            if sidecar:  # the loser's orphan sidecar is dead weight
                self.io.delete_file(
                    os.path.join(self._commits_dir(table_name), sidecar)
                )
            occ = None
            try:
                occ = self._read_commit_json(table_name, attempt)
            except FileNotFoundError:
                pass  # occupant vanished (vacuum race): plain conflict
            if occ is not None and (
                occ.get("branch") != manifest.get("branch")
                or occ.get("branch_ref") != manifest.get("branch_ref")
            ):
                # The occupant lives on a different ref (a branch
                # commit under a main writer, or vice versa): it can
                # never be visible HERE, so it is dead space on this
                # ref's number line — slide past without resolving or
                # conflicting (same reasoning as aborted prepares).
                attempt += 1
                continue
            occ_gid = occ.get("txn_group") if occ is not None else None
            if occ_gid is not None and self._resolve_group(occ_gid) == "abort":
                attempt += 1  # slide past the invisible slot
                continue
            raise ConcurrentCommitError(
                f"commit version {attempt} of {table_name!r} was taken "
                "by a concurrent writer"
            )
        self._advance_latest_pointer(table_name, attempt)
        self._cache_manifest(table_name, attempt, {"version": attempt, **manifest})
        return attempt

    # Latest-version discovery used to LIST the commits dir — O(commit
    # count) names per cold read, the classic object-store listing
    # ceiling at 100k+ commits. Delta's `_last_checkpoint` pattern
    # instead: every commit overwrite-PUTs a tiny pointer file, and
    # discovery reads the pointer then PROBES FORWARD (the pointer is
    # a hint — racing writers may leave it a few versions behind;
    # each probe is one O(KB) read). Listing remains the fallback for
    # pre-pointer tables and a vanished pointer.
    _LATEST_PTR = "_latest"

    def _advance_latest_pointer(self, table_name: str, version: int) -> None:
        """Best-effort: pointer staleness only costs discovery probes,
        never correctness, so a failed write must not fail the commit."""
        try:
            self.io.write_text(
                os.path.join(self._commits_dir(table_name), self._LATEST_PTR),
                json.dumps({"version": version}),
            )
        except Exception:
            pass

    def _discover_latest(self, table_name: str) -> int | None:
        """The newest committed version: pointer + forward probes, or
        a dir listing when no usable pointer exists. None = no table."""
        d = self._commits_dir(table_name)
        start = None
        try:
            start = int(
                json.loads(
                    self.io.read_text(os.path.join(d, self._LATEST_PTR))
                )["version"]
            )
            if not self.io.exists(os.path.join(d, f"{start:020d}.json")):
                start = None  # pointer outlived its commit: fall back
        except Exception:
            start = None  # absent/corrupt pointer: fall back
        if start is None:
            names = [n for n in self.io.list_names(d) if n.endswith(".json")]
            if not names:
                return None
            return int(max(names)[:-5])
        v = start
        while self.io.exists(os.path.join(d, f"{v + 1:020d}.json")):
            v += 1
        return v

    def _serialize_manifest(
        self, table_name: str, version: int, to_store: dict
    ) -> tuple[str, str | None]:
        """Stored form of a manifest: wide FULL manifests spill their
        entry list to a parquet checkpoint sidecar (columnar +
        compressed; Delta's checkpoint-file pattern) written BEFORE the
        commit JSON, which then carries only ``entries_ref``. Returns
        (json_string, sidecar_name_or_None). Sidecar names are unique
        per attempt so racing writers of one version never clobber."""
        from pyairbyte_spark import manifest as mf

        entries = to_store.get("entries")
        if entries is None or len(entries) < mf.PARQUET_CHECKPOINT_MIN_ENTRIES:
            return json.dumps({"version": version, **to_store}), None
        sidecar = f"{version:020d}.{uuid.uuid4().hex[:8]}.checkpoint.parquet"
        self.io.write_bytes(
            os.path.join(self._commits_dir(table_name), sidecar),
            mf.entries_to_parquet_bytes(entries),
        )
        slim = {k: v for k, v in to_store.items() if k != "entries"}
        return (
            json.dumps(
                {
                    "version": version,
                    **slim,
                    "entries_ref": sidecar,
                    "n_entries": len(entries),
                }
            ),
            sidecar,
        )

    def _commit_dml(
        self,
        table_name: str,
        manifest: dict,
        version: int,
        *,
        base_entries: list[dict],
        preds: list[list[tuple]],
        base_dvs: list[dict] | None = None,
    ) -> int:
        """Publish a DML rewrite commit (delete/update) with optimistic
        conflict resolution, Delta-style:

        - A concurrent APPEND whose added files PROVABLY contain no
          predicate-matching row (zone-map check) commutes with the
          rewrite → rebase: carry the appended entries into our
          manifest and retry at the next version.
        - Anything else — concurrent DML/merge/replace (they modified
          entries we read), an append that may add matching rows, or a
          METADATA commit (set_check / rename_column / drop_column /
          …) — aborts with :class:`ConcurrentCommitError`, because the
          staged rewrite was computed from a stale read set (or would
          republish the pre-race metadata, silently reverting the
          concurrent change — Delta likewise aborts DML on concurrent
          metadata updates). Re-run the operation to resolve.
        """
        from pyairbyte_spark.filestats import file_may_match_dnf

        op = manifest.get("op")
        for _ in range(self._COMMIT_RETRIES):
            try:
                return self._commit(table_name, manifest, version)
            except ConcurrentCommitError:
                snap = self._latest_commit(table_name)
                if snap is None:
                    raise
                new_version, new_man = snap
                # Metadata conflict: ``manifest`` carries the BASE
                # snapshot's checks / column mapping / keys verbatim
                # (resolution takes top-level fields from the newest
                # commit), so rebasing past a commit that changed any
                # of them would republish the stale values. Entries
                # being unchanged does NOT make such a commit an
                # append — compare the fields explicitly.
                for k in (
                    "checks",
                    "column_mapping",
                    "dropped_columns",
                    "merge_buckets",
                    "primary_keys",
                    "added_columns",
                ):
                    if (new_man.get(k) or None) != (manifest.get(k) or None):
                        raise ConcurrentCommitError(
                            f"{op} on {table_name!r} conflicts with a "
                            f"concurrent metadata change ({k!r}); "
                            "re-run the operation"
                        ) from None
                # A concurrent commit that changed the deletion-vector
                # set (another MoR delete, or a compact clearing DVs)
                # invalidated our read set AND our staged DV list —
                # rebasing would drop the winner's deletes. Abort;
                # re-running recomputes against the new DVs.
                if (new_man.get("delete_vectors") or None) != (
                    base_dvs or None
                ):
                    raise ConcurrentCommitError(
                        f"{op} on {table_name!r} conflicts with a "
                        "concurrent deletion-vector change; "
                        "re-run the operation"
                    ) from None
                new_entries = new_man.get("entries") or []
                base_by = {e["path"]: e for e in base_entries}
                new_by = {e["path"]: e for e in new_entries}
                changed = any(
                    p not in new_by
                    or (new_by[p] is not base_by[p] and new_by[p] != base_by[p])
                    for p in base_by
                )
                if changed:
                    raise ConcurrentCommitError(
                        f"{op} on {table_name!r} conflicts with a "
                        "concurrent write that modified overlapping "
                        "data; re-run the operation"
                    ) from None
                added = [e for e in new_entries if e["path"] not in base_by]
                for e in added:
                    files = e.get("files")
                    if files is None or any(
                        file_may_match_dnf(f, preds) for f in files
                    ):
                        raise ConcurrentCommitError(
                            f"{op} on {table_name!r} conflicts with a "
                            "concurrent append that may contain matching "
                            "rows; re-run the operation"
                        ) from None
                # Rebasing past a txn-stamped append must not republish
                # our BASE's stale watermarks (a regression would let a
                # replayed micro-batch land twice) — take per-app max.
                txns = dict(manifest.get("txns") or {})
                for app, b in (new_man.get("txns") or {}).items():
                    if txns.get(app, -1) < b:
                        txns[app] = b
                manifest = {
                    **manifest,
                    "entries": list(manifest["entries"]) + added,
                    **({"txns": txns} if txns else {}),
                }
                base_entries = new_entries
                version = new_version + 1
        raise ConcurrentCommitError(
            f"{op} on {table_name!r} lost {self._COMMIT_RETRIES} commit races"
        )

    # Integral Spark types whose per-file SUM harvest is exact (float
    # sums are order-dependent, decimals are omitted at footer harvest
    # — both stay scan-tier).
    _SUM_STAT_TYPES = ("tinyint", "smallint", "int", "bigint")

    # -- driver-local staging for tiny literal frames -----------------------
    # See :class:`LocalRows`. The plan-inspection alternative (detect a
    # LocalRelation) does not exist in PySpark — createDataFrame always
    # parallelizes — so locality is declared explicitly by the caller.
    @staticmethod
    def _local_pa_type(dt):
        """pyarrow type for a Spark type the local stage supports
        (atomic numerics / strings / booleans and arrays of them), or
        None. Timestamps/dates/decimals are excluded: their
        Python-side representations carry timezone/scale pitfalls the
        distributed writer already handles."""
        import pyarrow as pa
        from pyspark.sql import types as T

        atomic = {
            T.ByteType: pa.int8(),
            T.ShortType: pa.int16(),
            T.IntegerType: pa.int32(),
            T.LongType: pa.int64(),
            T.FloatType: pa.float32(),
            T.DoubleType: pa.float64(),
            T.StringType: pa.string(),
            T.BooleanType: pa.bool_(),
        }
        t = atomic.get(type(dt))
        if t is not None:
            return t
        if isinstance(dt, T.ArrayType):
            inner = atomic.get(type(dt.elementType))
            if inner is not None:
                return pa.list_(inner)
        return None

    def _local_stageable(self, lr: "LocalRows") -> bool:
        """Whether the rows can stage through pyarrow: every field in
        the supported type set. Zero rows stage as a ZERO-FILE entry
        (no bytes written at all) — the cursor-CAS watermark of a
        changeless sync window rides one of these."""
        try:
            st = lr.struct(self.spark)
        except Exception:
            return False
        return all(
            self._local_pa_type(f.dataType) is not None for f in st.fields
        )

    def _stage_local(self, lr: "LocalRows", table_name: str) -> dict:
        """Stage driver rows as one parquet file through the FileIO
        seam — the job-free twin of :meth:`_stage`, returning the
        identical manifest entry shape (footer stats included, via the
        same ``harvest_file_stats``)."""
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as papq

        from pyairbyte_spark.filestats import harvest_file_stats

        st = lr.struct(self.spark)
        rows = lr.dicts(self.spark)
        name = f"d-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.table_path(table_name), name)
        if not rows:
            # Zero-file entry: nothing to write, nothing to read back;
            # the recorded schema keeps the snapshot readable.
            return {
                "path": name,
                "buckets": [] if BUCKET_COL in st.names else None,
                "files": [],
                "schema": st.json(),
            }
        pa_schema = pa.schema(
            [(f.name, self._local_pa_type(f.dataType)) for f in st.fields]
        )
        tbl = pa.Table.from_pydict(
            {f.name: [r[f.name] for r in rows] for f in st.fields},
            schema=pa_schema,
        )
        buf = pa.BufferOutputStream()
        papq.write_table(tbl, buf, compression="snappy")
        data = buf.getvalue().to_pybytes()
        rel = f"part-00000-{uuid.uuid4().hex}.snappy.parquet"
        self.io.write_bytes(os.path.join(path, rel), data)
        stats = harvest_file_stats(_io.BytesIO(data))
        frec = {"path": rel, "bucket": None, "bytes": len(data), **stats}
        if self.harvest_sums:
            for f in st.fields:
                cs = (frec.get("stats") or {}).get(f.name)
                if (
                    cs is not None
                    and f.dataType.simpleString() in self._SUM_STAT_TYPES
                ):
                    vals = [r[f.name] for r in rows if r[f.name] is not None]
                    if vals:
                        cs["sum"] = int(sum(vals))
        return {
            "path": name,
            "buckets": None,
            "files": [frec],
            "schema": st.json(),
        }

    def _harvest_sums_into(
        self, path: str, df: DataFrame, files: "list[dict]"
    ) -> None:
        """Per-file column SUMs for integral columns, folded into the
        freshly harvested footer stats as ``stats[col]["sum"]`` — ONE
        distributed, column-pruned job over the just-staged dir
        (O(new data), hot in page cache; parquet footers carry no sum,
        so write time is the only point per-file sums are knowable
        without re-reading history). Sums accumulate in decimal(38,0)
        so 100-TB-scale files can't overflow the fold. Powers the
        sum/avg metadata tier of :meth:`agg_where`; a column without
        the key simply stays scan-tier (conservative)."""
        cols = [
            f.name
            for f in df.schema.fields
            if f.name != BUCKET_COL
            and f.dataType.simpleString() in self._SUM_STAT_TYPES
        ]
        if not cols:
            return
        # Size-adaptive venue: the just-staged files' sizes are already
        # known — when the whole dir is small, sum the columns driver-
        # side with pyarrow (no Spark job; the bytes are page-cache
        # hot). Big stages keep the distributed one-job fold. The
        # threshold is bytes-based, so the choice is the same decision
        # a 100 TB deployment would make.
        sizes = [f.get("bytes") for f in files]
        if all(s is not None for s in sizes) and sum(sizes) <= (32 << 20):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as papq

            for frec in files:
                stats = frec.get("stats")
                if stats is None:
                    continue
                want = [c for c in cols if c in stats]
                if not want:
                    continue
                try:
                    with self.io.open_input(
                        os.path.join(path, frec["path"])
                    ) as src:
                        tbl = papq.read_table(src, columns=want)
                except Exception:
                    continue  # unreadable: column simply stays scan-tier
                for c in want:
                    # decimal accumulator, mirroring the distributed
                    # fold's overflow headroom
                    v = pc.sum(
                        tbl[c].cast(pa.decimal128(38, 0))
                    ).as_py()
                    if v is not None:
                        stats[c]["sum"] = int(v)
            return
        rows = (
            self.spark.read.parquet(path)
            .groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(
                *[
                    F.sum(F.col(c).cast("decimal(38,0)")).alias(c)
                    for c in cols
                ]
            )
            .collect()
        )
        # Match on the DIR-RELATIVE path, never the basename: a
        # bucketed stage writes the same part-NNNNN-<uuid> basename
        # under every bucket partition dir, so basenames collide
        # within one stage.
        dname = os.path.basename(path)
        by_rel: dict[str, object] = {}
        for r in rows:
            fp = r["__fp"]
            idx = fp.find(f"{dname}/")
            if idx >= 0:
                by_rel[fp[idx + len(dname) + 1 :]] = r
        for frec in files:
            r = by_rel.get(frec["path"])
            stats = frec.get("stats")
            if r is None or stats is None:
                continue
            for c in cols:
                cs = stats.get(c)
                if cs is not None and r[c] is not None:
                    cs["sum"] = int(r[c])

    def _stage(self, df: DataFrame, table_name: str) -> dict:
        """Write ``df`` into a fresh immutable data dir; return its
        manifest entry (path + bucket partitions present + per-file
        column stats harvested from the parquet footers just written —
        the zone maps behind :meth:`read_where`; see ``filestats.py``)."""
        from pyairbyte_spark.filestats import harvest_file_stats

        if isinstance(df, LocalRows):
            if self._local_stageable(df):
                return self._stage_local(df, table_name)
            df = df.to_df(self.spark)
        name = f"d-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.table_path(table_name), name)
        try:
            self._writer(df).mode("overwrite").parquet(path)
        except Exception as e:
            msg = str(e)
            if "EXPECTATION_VIOLATION" in msg:
                from pyairbyte_spark.expectations import ExpectationViolation

                self.io.delete_dir(path)  # no partial staging left behind
                m = re.search(r"check '([^']+)'", msg)
                raise ExpectationViolation(
                    {m.group(1) if m else "check": 1}
                ) from None
            raise
        files = []
        bucket_set: set[int] = set()
        for rel, size in self.io.list_files(path):
            if not rel.endswith(".parquet"):
                continue
            bucket = None
            for part in rel.split("/"):
                if part.startswith(f"{BUCKET_COL}="):
                    val = part.split("=", 1)[1]
                    if val == "__HIVE_DEFAULT_PARTITION__":
                        # a null-bucket row slipped into a partitioned
                        # write (e.g. compacting a table with a legacy
                        # unbucketed dir): bucket None = always-read,
                        # conservative and correct
                        continue
                    bucket = int(val)
                    bucket_set.add(bucket)
            with self.io.open_input(os.path.join(path, rel)) as src:
                stats = harvest_file_stats(src)
            files.append(
                {"path": rel, "bucket": bucket, "bytes": size, **stats}
            )
        if self.harvest_sums and files:
            self._harvest_sums_into(path, df, files)
        buckets = sorted(bucket_set) if BUCKET_COL in df.columns else None
        # The PHYSICAL schema rides every entry so a snapshot whose
        # files have all been deleted (DELETE matching every row) still
        # reads as an EMPTY frame with the right columns — without it,
        # "SELECT * FROM t" on a fully-emptied table has no schema
        # source once vacuum reclaims the data files.
        return {
            "path": name,
            "buckets": buckets,
            "files": files,
            "schema": df.schema.json(),
        }

    # -- deletion vectors (merge-on-read DELETE) ----------------------------
    # ``delete_where(..., mode="mor")`` publishes POSITION DELETES
    # instead of rewriting files (Iceberg v2's position-delete design,
    # Spark-first): the doomed rows' (file, position) pairs — harvested
    # from Spark's native ``_metadata.file_path`` / ``row_index``
    # columns — land in a small ``dv-<hex>/`` parquet sidecar, and the
    # manifest's top-level ``delete_vectors`` list references it.
    # Readers anti-join the data scan against the union of live DVs;
    # compact (and any full rewrite) materializes and clears them.
    # At 100 TB the win is the write path: a GDPR point-delete scans
    # only the predicate columns of the zone-map-matching files and
    # writes KBs, instead of rewriting every matched file's full row
    # width. DV entries referencing files no longer in the manifest
    # (superseded by later rewrites) are harmless — the anti-join
    # simply never matches them — and vacuum reclaims DV dirs no kept
    # snapshot references.

    # Everything after the LAST "d-<12 hex>/" path component — the
    # table-relative file key DVs are addressed by. Data dir names are
    # random hex (see _stage), so the greedy ".*/" prefix pins the
    # match to the actual data dir even if an ancestor dir collides.
    _DV_FILE_RE = r".*/(d-[0-9a-f]{12}/.+)$"
    # Merge DV sidecars into one once the list exceeds this (keeps the
    # read-side union and the per-read anti-join input bounded however
    # many MoR deletes accumulate between compactions).
    _DV_CONSOLIDATE_AT = 8
    # Hint broadcast for the anti-join only while the DV is small
    # enough to ship; beyond that let AQE pick the join strategy.
    # Byte-based (from the sidecar's recorded parquet sizes): the
    # in-memory (file-string, pos) relation expands ~4-8× over
    # snappy parquet, so 8 MiB on disk stays within the same order
    # as Spark's 10 MB autoBroadcast default once replicated. DVs
    # with unrecorded sizes fall back to a conservative row bound;
    # unknown-size AND unknown-rows entries are never broadcast.
    _DV_BROADCAST_MAX_BYTES = 8 * 1024 * 1024
    _DV_BROADCAST_MAX_ROWS = 1_000_000
    # Driver-side bloom cache budget (bitset bytes, the dominant term;
    # see _bloom_map). ~9.6 bits/key at 1% fpr → 64 MiB covers a
    # ~55M-key index; anything bigger belongs to the distributed probe
    # venue anyway.
    _BLOOM_CACHE_MAX_BYTES = 64 * 1024 * 1024

    @staticmethod
    def _carry_dv(man: dict | None) -> dict:
        """Deletion vectors a commit must re-state to keep them live
        (same contract as :meth:`_carry_mapping`: resolution takes
        top-level fields from the newest commit). Full rewrites
        (replace / compact / full merge) intentionally DON'T carry —
        they materialize the deletes."""
        if man and man.get("delete_vectors"):
            return {"delete_vectors": man["delete_vectors"]}
        return {}

    def _with_dv_cols(self, part: DataFrame) -> DataFrame:
        """Attach the (file, position) identity of every row, from the
        scan's metadata pseudo-column. Must be applied per SCAN (before
        any union — ``_metadata`` resolves against a file source)."""
        return part.withColumn(
            "__dv_file",
            F.regexp_extract(
                F.col("_metadata.file_path"), self._DV_FILE_RE, 1
            ),
        ).withColumn("__dv_pos", F.col("_metadata.row_index"))

    def _entry_base(self, table_name: str, e: dict) -> str:
        """The absolute dir an entry's (or DV's) ``path`` lives under:
        this table's path, or the recorded ``base`` for SHALLOW-CLONE
        entries that reference another table's files."""
        return e.get("base") or self.table_path(table_name)

    def _dv_frame(self, table_name: str, dvs: list[dict]) -> DataFrame:
        """The union of the given DV sidecars as a (file, pos) frame."""
        paths = [
            os.path.join(self._entry_base(table_name, d), d["path"])
            for d in dvs
        ]
        return self.spark.read.parquet(*paths)

    def _anti_join_dvs(
        self,
        df: DataFrame,
        table_name: str,
        dvs: list[dict],
        *,
        keep_cols: bool = False,
    ) -> DataFrame:
        """Drop rows whose (file, pos) appears in any DV sidecar.
        ``df`` must carry the ``_with_dv_cols`` columns; they are
        consumed unless ``keep_cols`` (callers that need the row
        identity downstream — ``_metadata`` no longer resolves after
        a join). The DV side is broadcast while small (the common
        case — position deletes are why the files were NOT
        rewritten); a pathologically large DV falls back to AQE's
        choice, and compact() is the real remedy."""
        dv = self._dv_frame(table_name, dvs)
        if self._dv_broadcastable(dvs):
            dv = F.broadcast(dv)
        out = df.join(
            dv,
            (F.col("__dv_file") == dv["file"])
            & (F.col("__dv_pos") == dv["pos"]),
            "left_anti",
        )
        return out if keep_cols else out.drop("__dv_file", "__dv_pos")

    def _dv_broadcastable(self, dvs: list[dict]) -> bool:
        """Whether the DV union is safe to force-broadcast: decided
        from the sidecars' recorded parquet sizes (the honest signal),
        falling back to row counts, never broadcasting unknowns."""
        if all(d.get("bytes") is not None for d in dvs):
            return sum(d["bytes"] for d in dvs) <= self._DV_BROADCAST_MAX_BYTES
        if all(d.get("rows") is not None for d in dvs):
            return sum(d["rows"] for d in dvs) <= self._DV_BROADCAST_MAX_ROWS
        return False  # unknown size: never force a broadcast

    def _prune_dvs(
        self,
        table_name: str,
        man: dict,
        rewritten_files: list[str],
        rewritten_prefixes: list[str] = (),
    ) -> tuple[list[dict], int]:
        """Retire DV positions referencing files the current operation
        rewrites (COW delete/update touched files, incremental-merge
        bucket rewrites). Keeps the invariant every consumer of the
        manifest's DV records relies on — a DV entry always points at
        a LIVE file — so ``table_stats``'s row arithmetic stays exact
        and reads never drag dead positions through the anti-join.
        Returns ``(new_dv_list, pruned_row_count)``; restages the
        surviving positions into one consolidated sidecar only when
        something was actually pruned (one tiny job, sidecar-sized)."""
        dvs = man.get("delete_vectors") or []
        if not dvs or not (rewritten_files or rewritten_prefixes):
            return dvs, 0
        dv = self._dv_frame(table_name, dvs)
        stale = F.col("file").isin(list(rewritten_files))
        for p in rewritten_prefixes:
            stale = stale | F.col("file").startswith(p + "/")
        n_stale = dv.filter(stale).count()
        if n_stale == 0:
            return dvs, 0
        entry = self._stage_dv(dv.filter(~stale), table_name)
        if entry["rows"] == 0:
            self.io.delete_dir(
                os.path.join(self.table_path(table_name), entry["path"])
            )
            return [], n_stale
        return [entry], n_stale

    def _stage_dv(self, dv_df: DataFrame, table_name: str) -> dict:
        """Write a (file, pos) frame as a fresh DV sidecar dir; return
        its manifest record ``{"path", "rows"}`` (rows harvested from
        the parquet footers — no counting job)."""
        from pyairbyte_spark.filestats import harvest_file_stats

        name = f"dv-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.table_path(table_name), name)
        dv_df.write.mode("overwrite").parquet(path)
        rows = 0
        size = 0
        for rel, fsize in self.io.list_files(path):
            if not rel.endswith(".parquet"):
                continue
            size += fsize
            with self.io.open_input(os.path.join(path, rel)) as src:
                rows += harvest_file_stats(src).get("rows") or 0
        return {"path": name, "rows": rows, "bytes": size}

    # -- snapshot reads -----------------------------------------------------

    def _read_manifest_df(self, table_name: str, manifest: dict) -> DataFrame:
        entries = manifest.get("entries") or []
        if not entries:
            empty = self._empty_df(manifest)
            if empty is not None:
                return self._fill_added(empty, manifest)
            raise FileNotFoundError(f"table {table_name!r} snapshot is empty")
        return self._entries_df(table_name, entries, dv_man=manifest)

    def _empty_df(self, manifest: dict | None) -> DataFrame | None:
        """Zero-row frame with the snapshot's newest physical schema
        (entry-level first, then the carried top-level field), or None
        for pre-schema manifests."""
        schema_json = _newest_schema(manifest)
        if schema_json is None:
            return None
        from pyspark.sql.types import StructType

        return self.spark.createDataFrame(
            [], StructType.fromJson(json.loads(schema_json))
        )

    @staticmethod
    def _entry_schema(e: dict | None):
        """The entry's (or scan group's) recorded stage-time
        StructType, or None."""
        sj = (e or {}).get("schema")
        if not sj:
            return None
        from pyspark.sql.types import StructType

        try:
            return StructType.fromJson(json.loads(sj))
        except (ValueError, TypeError, KeyError, AttributeError):
            # Unparseable record (bad JSON, or JSON that is not a
            # StructType): fall back to footer inference.
            return None

    def _read_entry(
        self,
        base: str,
        e: dict | None,
        paths: list[str] | None,
        man: dict | None,
        *,
        live: list[int] | None = None,
        dv_cols: bool = False,
    ) -> DataFrame:
        """Scan ONE manifest entry: the given ``paths`` (absolute files
        inside the entry's data dir ``base``), or the whole dir when
        ``paths`` is None — then only its ``live`` buckets. ``e`` is the
        entry, or a scan group carrying the entry's ``schema``.

        One stage = one schema: every file in an entry was written by
        the same job, and the entry RECORDS that schema — handing it to
        the reader skips the footer-sampling schema merge entirely (one
        fewer Spark job per read; point lookups and sync ticks are
        job-count-bound). Schema-less legacy entries keep the merge.
        Metadata-added columns are filled in; ``dv_cols`` tags every
        row with its (file, pos) identity for deletion vectors."""
        st = self._entry_schema(e)
        reader = (
            self.spark.read.option("mergeSchema", "true")
            if st is None
            else self.spark.read.schema(st)
        )
        if paths is None:
            part = reader.parquet(base)
            if live is not None and BUCKET_COL in part.columns:
                # Partition-pruned: only this dir's LIVE buckets are
                # read; superseded data never reaches the scan.
                part = part.filter(F.col(BUCKET_COL).isin(live))
        else:
            # basePath keeps the bucket partition column visible when
            # addressing files inside partition dirs.
            part = reader.option("basePath", base).parquet(*paths)
        part = self._fill_added(part, man)
        return self._with_dv_cols(part) if dv_cols else part

    def _read_buckets(
        self, table_name: str, man: dict, buckets: set, dvs: list[dict]
    ) -> tuple[DataFrame | None, list[str]]:
        """The live rows of the given merge ``buckets`` (None when no
        entry holds one), plus the ``entry/file`` keys of the files read
        — their DV positions retire once the buckets are restaged.
        File-targeted: only those buckets' files are addressed — no
        directory listing, no footer reads for untouched buckets.
        MoR-deleted rows are dropped: in a latest-wins dedup a deleted
        row would shadow an older-keyed but LIVE incoming row."""
        parts: list[DataFrame] = []
        rewritten: list[str] = []
        for e in man["entries"]:
            overlap = sorted(set(e.get("buckets") or []) & buckets)
            if not overlap:
                continue
            p = os.path.join(self._entry_base(table_name, e), e["path"])
            paths = None
            if e.get("files") is not None:
                rels = [
                    f["path"] for f in e["files"] if f.get("bucket") in overlap
                ]
                if dvs:
                    rewritten.extend(f'{e["path"]}/{r}' for r in rels)
                if not rels:
                    continue
                paths = [os.path.join(p, r) for r in rels]
            parts.append(
                self._read_entry(
                    p, e, paths, man, live=overlap, dv_cols=bool(dvs)
                )
            )
        if not parts:
            return None, rewritten
        old = parts[0]
        for part in parts[1:]:
            old = old.unionByName(part, allowMissingColumns=True)
        if dvs:
            old = self._anti_join_dvs(old, table_name, dvs)
        return old, rewritten

    def _entries_df(
        self,
        table_name: str,
        entries: list[dict],
        *,
        dv_man: dict | None = None,
    ) -> DataFrame:
        """Scan the given entries. When ``dv_man`` carries deletion
        vectors, every part is tagged with its (file, pos) identity
        and the union is anti-joined against them — merge-on-read
        deletes applied at read time. Without DVs the plan is exactly
        the pre-DV plan (no extra columns, no join)."""
        dvs = (dv_man or {}).get("delete_vectors") or []
        parts: list[DataFrame] = []
        for e in entries:
            p = os.path.join(self._entry_base(table_name, e), e["path"])
            live = e.get("buckets")
            files = e.get("files")
            paths = None
            if files is not None:
                # The manifest's file list is AUTHORITATIVE: deletes
                # shrink it below the directory's contents, so reading
                # the dir would resurrect deleted rows. Addressing
                # files also skips the FS listing and applies bucket
                # liveness per file instead of row-filtering.
                paths = [
                    os.path.join(p, f["path"]) for f in files if _file_live(live, f)
                ]
                if not paths:
                    continue
            parts.append(
                self._read_entry(
                    p, e, paths, dv_man, live=live, dv_cols=bool(dvs)
                )
            )
        if not parts:
            # Every file pruned (a DELETE matched the whole table):
            # the table still EXISTS — read it as an empty frame with
            # the newest staged schema. Raising here would make a
            # legal table state unreadable. Metadata-added columns
            # apply as usual; DV anti-joins are vacuous on zero rows
            # and skipped, keeping the column set identical to the
            # populated read path.
            empty = self._empty_df({"entries": entries, **(dv_man or {})})
            if empty is not None:
                return self._fill_added(empty, dv_man)
            raise FileNotFoundError(
                f"table {table_name!r} snapshot has no live files"
            )
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part, allowMissingColumns=True)
        if dvs:
            out = self._anti_join_dvs(out, table_name, dvs)
        return out

    def _read_raw(self, table_name: str) -> DataFrame:
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        return self._apply_mapping(
            self._read_manifest_df(table_name, snap[1]), snap[1]
        )

    # Byte cap for the driver-local read path below: protocol tables
    # (index metas, codebook/centroid literals) are KBs; anything
    # bigger belongs to a distributed scan.
    _LOCAL_READ_MAX_BYTES = 1 << 20

    def read_rows_local(self, table_name: str) -> "list[dict] | None":
        """The snapshot's rows as driver-side dicts — WITHOUT a Spark
        job — when the table is provably tiny and plain: every live
        file's manifest-recorded bytes sum under
        :data:`_LOCAL_READ_MAX_BYTES`, no deletion vectors, no column
        mapping / dropped / added columns, no bucket column, and every
        recorded schema field in the local-stage type set. Returns
        None when any precondition fails (callers then run the normal
        distributed read — same rows, one job). This is NOT a cache:
        each call re-resolves the manifest and re-reads the parquet
        bytes; it is the same read minus the scheduler round-trip.
        The 1-row meta tables every index probe/sync consults are the
        target — at 100 TB those reads are just as tiny, because meta
        size is O(1) in corpus size."""
        try:
            snap = self._latest_commit(table_name)
            if snap is None:
                return None
            man = snap[1]
            if (
                (man.get("delete_vectors") or None)
                or (man.get("column_mapping") or None)
                or (man.get("dropped_columns") or None)
                or (man.get("added_columns") or None)
            ):
                return None
            entries = man.get("entries") or []
            if not entries:
                return None
            from pyspark.sql.types import StructType

            schemas = {e.get("schema") for e in entries}
            if len(schemas) != 1 or None in schemas:
                return None
            st = StructType.fromJson(json.loads(next(iter(schemas))))
            if BUCKET_COL in st.names or any(
                self._local_pa_type(f.dataType) is None for f in st.fields
            ):
                return None
            reads: list[str] = []
            total = 0
            for e in entries:
                live = e.get("buckets")
                files = e.get("files")
                if files is None:
                    return None
                base = os.path.join(
                    self._entry_base(table_name, e), e["path"]
                )
                for f in files:
                    if not _file_live(live, f):
                        continue
                    if f.get("bytes") is None:
                        return None
                    total += f["bytes"]
                    if total > self._LOCAL_READ_MAX_BYTES:
                        return None
                    reads.append(os.path.join(base, f["path"]))
            import pyarrow.parquet as papq

            names = list(st.names)
            out: list[dict] = []
            for p in reads:
                with self.io.open_input(p) as src:
                    tbl = papq.read_table(src, columns=names)
                for rec in tbl.to_pylist():
                    out.append({n: rec[n] for n in names})
            return out
        except Exception:
            return None  # any doubt: the distributed read is authoritative

    def read_local_df(self, table_name: str) -> "DataFrame | None":
        """:meth:`read_rows_local` as a LocalRelation DataFrame with
        the table's recorded schema (exact types, no inference), or
        None when the local preconditions fail. The frame needs no
        further scan — broadcast/collect on it are driver-side."""
        rows = self.read_rows_local(table_name)
        if rows is None:
            return None
        try:
            snap = self._latest_commit(table_name)
            from pyspark.sql.types import StructType

            st = StructType.fromJson(json.loads(_newest_schema(snap[1])))
            return self.spark.createDataFrame(
                [tuple(r[n] for n in st.names) for r in rows], st
            )
        except Exception:
            return None

    def read_version(
        self, table_name: str, version: int, *, any_ref: bool = False
    ) -> DataFrame:
        """Time travel: the table exactly as of ``version`` (readable
        until :meth:`vacuum` reclaims its data dirs), through the
        column mapping AS OF that version. ``any_ref=True`` relaxes the
        ref-ownership check (never the txn-verdict check) — for
        followers whose recorded cursor legitimately points at a commit
        of a since-dropped branch (e.g. a derived index catching up
        across a publish); user-facing reads keep the strict check."""
        man = self._read_manifest(table_name, version)
        if any_ref:
            gid = man.get("txn_group")
            if gid is not None and self._group_verdict(gid) != "commit":
                self._require_visible(table_name, version, man)  # raises
        else:
            self._require_visible(table_name, version, man)
        df = self._apply_mapping(self._read_manifest_df(table_name, man), man)
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def snapshot(
        self, tables: "list[str] | dict[str, int]"
    ) -> "StoreSnapshot":
        """Multi-table VERSION-VECTOR pin: freeze a set of tables at
        explicit versions (dict) or at their current latest (list) and
        read them all through one handle. Single-table reads are
        always snapshot-consistent here (one manifest = one atomic
        snapshot); this is the CROSS-table counterpart — a join over
        two pipeline tables mid-update reads both AS OF the pinned
        vector instead of mixing a fresh upstream with a stale
        downstream (torn read). For follower-maintained chains, derive
        the vector with ``ChangeFeedFollower.consistent_snapshot``
        (each hop's commit records the source version it was built
        from); for independent tables, the capture order here is the
        consistency statement. Pinned versions stay readable until
        :meth:`vacuum` passes them. Reference point: per-stream state
        isolation (``airbyte/caches/_state_backend.py:205-260``)
        extended to table graphs."""
        if isinstance(tables, dict):
            versions = {t: int(v) for t, v in tables.items()}
            for t, v in versions.items():
                # validate: raises if vacuumed, or if the version is an
                # aborted/undecided multi-table-txn prepare
                self._require_visible(t, v, self._read_manifest(t, v))
        else:
            versions = {t: self.latest_version(t) for t in tables}
        return StoreSnapshot(self, versions)

    def version_at_timestamp(self, table_name: str, ts) -> int:
        """The snapshot version live AT ``ts`` — the newest commit
        whose recorded timestamp is <= ``ts`` (Delta's ``TIMESTAMP AS
        OF`` resolution). ``ts`` takes epoch seconds, a ``datetime``,
        or an ISO-8601 string (naive strings are LOCAL time, matching
        the commit clock). Commits predating the ``ts`` audit field
        count as time 0. Raises if ``ts`` is before the table's first
        commit. Cost: one small JSON read per commit file — op-level
        fields only, no manifest resolution."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        target = float(ts)
        d = self._commits_dir(table_name)
        names = sorted(
            n for n in self.io.list_names(d) if n.endswith(".json")
        )
        if not names:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        best = None
        # Commit timestamps are non-decreasing in practice, but clock
        # skew between racing writers is possible — take the MAX
        # version at-or-before the target rather than binary-searching.
        for n in names:
            v = int(n[:-5])
            cj = self._read_commit_json(table_name, v)
            gid = cj.get("txn_group")
            if gid is not None and self._group_verdict(gid) != "commit":
                continue  # aborted/undecided prepare: never a snapshot
            if cj.get("branch") is not None:
                if not self._ref_match(table_name, cj):
                    continue  # another ref's commit: never a snapshot here
            elif self._branch is not None and v > (
                self._branch_info(table_name)["base"]
            ):
                # Post-fork main commit on a branch view: never a
                # snapshot on this ref (the same at-or-below-fork rule
                # the visibility walks and the change feed use).
                continue
            if (cj.get("ts") or 0) <= target:
                best = v
        if best is None:
            first = self._read_commit_json(
                table_name, int(names[0][:-5])
            ).get("ts")
            raise ValueError(
                f"timestamp {ts} predates {table_name!r}'s first commit "
                f"(ts {first})"
            )
        return best

    def read_as_of(self, table_name: str, ts) -> DataFrame:
        """Delta's ``SELECT … TIMESTAMP AS OF``: the snapshot live at
        the given wall-clock time (see :meth:`version_at_timestamp`)."""
        return self.read_version(
            table_name, self.version_at_timestamp(table_name, ts)
        )

    # -- column mapping (metadata-only rename / drop) ------------------------
    # Files keep their original PHYSICAL column names forever; the
    # manifest's "column_mapping" {physical: logical} and
    # "dropped_columns" [physical] define the logical view. Writes
    # translate incoming logical names back to physical, so one global
    # mapping serves every file — no per-file name tracking (Delta
    # needs per-column ids because it lets new files use new physical
    # names; freezing physical names avoids that machinery). A
    # full-rewrite (replace / full merge) materializes the logical
    # view and RESETS the mapping.

    @staticmethod
    def _mapping_of(man: dict) -> tuple[dict[str, str], set[str]]:
        return (
            dict(man.get("column_mapping") or {}),
            set(man.get("dropped_columns") or []),
        )

    @staticmethod
    def _carry_mapping(man: dict) -> dict:
        """Table metadata every commit must re-state (delta commits
        carry top-level fields verbatim; resolution takes them from
        the NEWEST commit, so omission would silently drop them):
        column mapping, dropped columns, CHECK constraints, and the
        per-app streaming transaction watermarks (losing a watermark
        would let a replayed micro-batch append twice)."""
        out = {}
        if man.get("column_mapping"):
            out["column_mapping"] = man["column_mapping"]
        if man.get("dropped_columns"):
            out["dropped_columns"] = man["dropped_columns"]
        if man.get("checks"):
            out["checks"] = man["checks"]
        if man.get("cluster_by"):
            out["cluster_by"] = man["cluster_by"]
        if man.get("txns"):
            out["txns"] = man["txns"]
        if man.get("added_columns"):
            out["added_columns"] = man["added_columns"]
        if man.get("bloom_index"):
            out["bloom_index"] = man["bloom_index"]
        # Newest known PHYSICAL schema rides every commit so a manifest
        # with ZERO entries (a DELETE that dropped every data dir) still
        # reads as an empty frame after vacuum reclaims the files.
        sch = _newest_schema(man)
        if sch:
            out["schema"] = sch
        return out

    def _fill_added(self, part: DataFrame, man: dict | None) -> DataFrame:
        """Project metadata-added columns into a PART scan that
        predates them. Data dirs are immutable and staged whole, so a
        part either carries the column in its files (post-add write —
        explicit NULLs stay NULL) or lacks it entirely (pre-add — every
        row sees the recorded default). Applying per PART, before any
        union, is what makes that distinction exact; a union-level
        coalesce would overwrite post-add NULLs."""
        added = (man or {}).get("added_columns") or {}
        for phys, spec in added.items():
            if phys not in part.columns:
                part = part.withColumn(
                    phys, F.lit(spec.get("default")).cast(spec["type"])
                )
        return part

    def _materialize_added(self, df: DataFrame, man: dict | None) -> DataFrame:
        """Incoming frames staged AFTER an ADD COLUMN must carry the
        column explicitly (as NULL when the writer omitted it):
        ``_fill_added`` can only distinguish pre-add files from
        post-add files by column PRESENCE, so a post-add append
        lacking the column would silently read the existing-rows
        default — Delta gives NULL for such inserts, and so do we."""
        for phys, spec in ((man or {}).get("added_columns") or {}).items():
            if phys not in df.columns:
                df = df.withColumn(phys, F.lit(None).cast(spec["type"]))
        return df

    # -- CHECK constraints (persisted expectations) -------------------------
    # Delta's ALTER TABLE ADD CONSTRAINT for the commit-log store: a
    # check lives in the manifest and EVERY later write (append, merge,
    # replace, update_where) enforces it in-flight — an assert_true
    # projection inside the staging write itself, so violating rows
    # fail the Spark job before the commit exists (single pass, no
    # separate validation job, table left on its previous snapshot).
    # Write-time-only expectations with drop/quarantine policies remain
    # at the cache layer (cache.write_dataframe(expectations=...)).

    def table_checks(self, table_name: str) -> dict[str, str]:
        snap = self._latest_commit(table_name)
        return dict((snap[1].get("checks") or {})) if snap else {}

    def set_cluster_by(
        self, table_name: str, columns: "list[str] | None"
    ) -> int:
        """Set (or clear, with ``None``) the table's WRITE-TIME
        clustering property: every later append range-sorts on these
        columns before staging, keeping zone maps selective without
        compaction (fresh entries stamp ``sorted_by``, so index
        coverage watermarks stay at 1.0 through ingest). Metadata-only
        commit; existing files are untouched (run
        ``compact(sort_by=...)`` once to cluster history). REPLACE
        resets the property like the column mapping — re-set it after
        full refreshes."""
        return self._commit_planned(
            table_name,
            self._plan_set_cluster_by(table_name, columns),
            lambda: self._plan_set_cluster_by(table_name, columns),
        )["version"]

    def _plan_set_cluster_by(
        self, table_name: str, columns: "list[str] | None"
    ) -> dict:
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        phys: list[str] = []
        if columns:
            logical = set(self.read(table_name).columns)
            for c in columns:
                if c not in logical:
                    raise ValueError(f"column {c!r} does not exist")
                phys.append(self._to_physical(man, c))
        return {
            "base_version": version,
            "manifest": {
                "op": "set_cluster_by",
                "merge_buckets": man.get("merge_buckets"),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                **{
                    k: v
                    for k, v in self._carry_mapping(man).items()
                    if k != "cluster_by"
                },
                **({"cluster_by": phys} if phys else {}),
                "entries": man.get("entries") or [],
                **self._carry_dv(man),
            },
        }

    def set_check(self, table_name: str, name: str, expr: str) -> int:
        """Add/replace a named CHECK constraint (SQL boolean expr over
        logical column names; NULL passes, per SQL CHECK). Existing
        rows are validated first — a constraint the current data
        violates is rejected (Delta semantics). Metadata-only commit;
        rebases through commit races by re-planning (re-validating
        against the winner's rows). Returns the new version.
        """
        return self._commit_planned(
            table_name,
            self._plan_set_check(table_name, name, expr),
            lambda: self._plan_set_check(table_name, name, expr),
        )["version"]

    def _plan_set_check(self, table_name: str, name: str, expr: str) -> dict:
        from pyairbyte_spark.expectations import (
            ExpectationViolation,
            violation_counts,
        )

        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        counts = violation_counts(self.read(table_name), {name: expr})
        if counts[name]:
            raise ExpectationViolation(counts)
        checks = {**(man.get("checks") or {}), name: expr}
        return {"base_version": version, "manifest": {
                "op": "set_check",
                "merge_buckets": man.get("merge_buckets"),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                **{
                    k: v
                    for k, v in self._carry_mapping(man).items()
                    if k != "checks"
                },
                "checks": checks,
                "entries": man.get("entries") or [],
                **self._carry_dv(man),
        }}

    def drop_check(self, table_name: str, name: str) -> int:
        return self._commit_planned(
            table_name,
            self._plan_drop_check(table_name, name),
            lambda: self._plan_drop_check(table_name, name),
        )["version"]

    def _plan_drop_check(self, table_name: str, name: str) -> dict:
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        checks = dict(man.get("checks") or {})
        if name not in checks:
            raise ValueError(f"no check named {name!r}")
        checks.pop(name)
        manifest = {
            "op": "set_check",
            "merge_buckets": man.get("merge_buckets"),
            **(
                {"primary_keys": man["primary_keys"]}
                if man.get("primary_keys")
                else {}
            ),
            **{
                k: v
                for k, v in self._carry_mapping(man).items()
                if k != "checks"
            },
            **({"checks": checks} if checks else {}),
            "entries": man.get("entries") or [],
            **self._carry_dv(man),
        }
        return {"base_version": version, "manifest": manifest}

    @staticmethod
    def _guard_checked_column(man: dict, column: str, verb: str) -> None:
        """Refuse to rename/drop a column a CHECK expression references
        (word-boundary match — conservative); drop the check first."""
        for name, expr in (man.get("checks") or {}).items():
            if re.search(rf"\b{re.escape(column)}\b", expr):
                raise ValueError(
                    f"cannot {verb} column {column!r}: referenced by "
                    f"check {name!r} ({expr}); drop_check first"
                )

    def _enforce_checks(self, df: DataFrame, man: dict | None) -> DataFrame:
        """Attach in-flight CHECK assertions to a LOGICAL-name frame:
        any violating row fails the staging write (see _stage's
        interception), publishing nothing."""
        checks = (man or {}).get("checks")
        if not checks:
            return df
        from pyairbyte_spark.expectations import _violation_col

        for name, expr in checks.items():
            df = df.filter(
                F.assert_true(
                    ~F.coalesce(_violation_col(expr), F.lit(False)),
                    F.lit(
                        f"EXPECTATION_VIOLATION: check {name!r} "
                        f"({expr}) failed"
                    ),
                ).isNull()
            )
        return df

    def _apply_mapping(self, df: DataFrame, man: dict) -> DataFrame:
        """Physical frame → logical view (drops dropped columns,
        renames mapped ones; BUCKET_COL always passes through)."""
        mapping, dropped = self._mapping_of(man)
        if not mapping and not dropped:
            return df
        cols = [
            F.col(c).alias(mapping.get(c, c))
            for c in df.columns
            if c not in dropped
        ]
        return df.select(*cols)

    def _to_physical(self, man: dict, name: str) -> str:
        mapping, _ = self._mapping_of(man)
        inv = {logical: physical for physical, logical in mapping.items()}
        return inv.get(name, name)

    def _physical_dnf(self, man: dict, dnf):
        """Translate predicate column names logical → physical."""
        return [
            [(self._to_physical(man, col), op, val) for col, op, val in branch]
            for branch in dnf
        ]

    def _rename_incoming(self, df: DataFrame, man: dict) -> DataFrame:
        """Logical-named incoming frame → physical names for staging
        into a mapped table. Rejects columns that collide with dropped
        or still-occupied physical names (silently merging them would
        resurrect old data)."""
        mapping, dropped = self._mapping_of(man)
        if not mapping and not dropped:
            return df
        inv = {logical: physical for physical, logical in mapping.items()}
        clash = [c for c in df.columns if c in dropped]
        if clash:
            raise ValueError(
                f"columns {clash} were dropped from this table; old files "
                "still hold that physical name — rename the incoming "
                "column, or materialize the drop first (full-rewrite "
                "merge / replace resets the mapping)"
            )
        occupied = {
            physical
            for physical, logical in mapping.items()
            if physical != logical
        }
        amb = [c for c in df.columns if c in occupied and c not in inv]
        if amb:
            raise ValueError(
                f"incoming columns {amb} collide with physical names that "
                "are mapped to other logical columns"
            )
        out = df
        for logical, physical in inv.items():
            if logical in out.columns and physical != logical:
                out = out.withColumnRenamed(logical, physical)
        return out

    def rename_column(self, table_name: str, old: str, new: str) -> int:
        """Metadata-only column rename: one tiny commit, zero data
        I/O at any table size (Delta `ALTER TABLE … RENAME COLUMN`
        under column mapping). Rebases through commit races by
        re-planning (pure metadata). Returns the new version."""
        return self._commit_planned(
            table_name,
            self._plan_rename_column(table_name, old, new),
            lambda: self._plan_rename_column(table_name, old, new),
        )["version"]

    def _plan_rename_column(self, table_name: str, old: str, new: str) -> dict:
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        logical_cols = set(self.read(table_name).columns)
        if old not in logical_cols:
            raise ValueError(f"column {old!r} does not exist")
        if new in logical_cols:
            raise ValueError(f"column {new!r} already exists")
        if old.startswith("_airbyte") or new.startswith("__"):
            raise ValueError("cannot rename bookkeeping columns")
        self._guard_checked_column(man, old, "rename")
        mapping, dropped = self._mapping_of(man)
        physical = self._to_physical(man, old)
        mapping.pop(physical, None)
        if physical != new:
            mapping[physical] = new
        # Every commit re-states top-level metadata (omission drops
        # it): carry EVERYTHING _carry_mapping knows — checks on other
        # columns, cluster_by, bloom_index, txn watermarks, the
        # recorded schema (r13: the hand-built list here silently
        # dropped cluster_by/bloom/schema) — then override the mapping
        # keys this rename rewrites. cluster_by and bloom columns are
        # PHYSICAL names, which a rename never changes: carry verbatim.
        carried = self._carry_mapping(man)
        carried.pop("column_mapping", None)
        carried.pop("dropped_columns", None)
        manifest = {
            "op": "rename_column",
            "merge_buckets": man.get("merge_buckets"),
            **({"primary_keys": man["primary_keys"]} if man.get("primary_keys") else {}),
            "entries": man.get("entries") or [],
            **carried,
            **({"column_mapping": mapping} if mapping else {}),
            **({"dropped_columns": sorted(dropped)} if dropped else {}),
            # Position deletes are name-independent; carry verbatim.
            **self._carry_dv(man),
        }
        return {"base_version": version, "manifest": manifest}

    def add_column(
        self,
        table_name: str,
        name: str,
        type_ddl: str,
        *,
        default=None,
    ) -> int:
        """Metadata-only ADD COLUMN (Delta ``ALTER TABLE … ADD COLUMN``
        with an existing-rows default): one tiny commit, zero data I/O
        at any table size. Rows written BEFORE the add read the
        ``default`` (NULL if omitted); rows written after carry their
        own values, explicit NULLs included — exact, because data dirs
        are immutable and whole, so every file either predates the
        column or doesn't (``_fill_added``). The record rides the
        manifest until a full rewrite materializes the values into
        files. Commit races rebase by re-planning (pure metadata).
        Returns the new version."""
        plan = self._plan_add_column(table_name, name, type_ddl, default)
        return self._commit_planned(
            table_name,
            plan,
            lambda: self._plan_add_column(table_name, name, type_ddl, default),
        )["version"]

    def _plan_add_column(
        self, table_name: str, name: str, type_ddl: str, default
    ) -> dict:
        """Validate + build the ADD COLUMN manifest against the
        current snapshot WITHOUT claiming a slot (the plan half; see
        :meth:`_commit_planned` / :meth:`MultiTableTxn.add_column`)."""
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        if name in set(self.read(table_name).columns):
            raise ValueError(f"column {name!r} already exists")
        _mapping, dropped = self._mapping_of(man)
        if name in dropped:
            raise ValueError(
                f"column {name!r} was previously dropped; old files still "
                "hold that physical name — materialize the drop first "
                "(full-rewrite merge / replace resets the mapping)"
            )
        if name.startswith(("_airbyte", "__")):
            raise ValueError("cannot add bookkeeping columns")
        # validate the DDL type (and the default's castability) eagerly
        try:
            self.spark.range(1).select(
                F.lit(default).cast(type_ddl)
            ).schema
        except Exception as e:
            raise ValueError(
                f"invalid column type {type_ddl!r} or default: {e}"
            ) from None
        added = dict(man.get("added_columns") or {})
        added[name] = {"type": type_ddl, "default": default}
        manifest = {
            "op": "add_column",
            "merge_buckets": man.get("merge_buckets"),
            **(
                {"primary_keys": man["primary_keys"]}
                if man.get("primary_keys")
                else {}
            ),
            "entries": man.get("entries") or [],
            **{
                k: v
                for k, v in self._carry_mapping(man).items()
                if k != "added_columns"
            },
            "added_columns": added,
            **self._carry_dv(man),
        }
        return {"base_version": version, "manifest": manifest}

    def drop_column(self, table_name: str, name: str) -> int:
        """Metadata-only column drop (zero data I/O). The physical
        bytes stay in existing files (invisible to all reads) until a
        full-rewrite materializes the view; re-adding the same name is
        rejected on write until then. Rebases through commit races by
        re-planning. Returns the new version."""
        return self._commit_planned(
            table_name,
            self._plan_drop_column(table_name, name),
            lambda: self._plan_drop_column(table_name, name),
        )["version"]

    def _plan_drop_column(self, table_name: str, name: str) -> dict:
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        logical_cols = set(self.read(table_name).columns)
        if name not in logical_cols:
            raise ValueError(f"column {name!r} does not exist")
        if name.startswith("_airbyte"):
            raise ValueError("cannot drop bookkeeping columns")
        physical = self._to_physical(man, name)
        if physical in (man.get("primary_keys") or []):
            raise ValueError(f"column {name!r} is a merge primary key")
        self._guard_checked_column(man, name, "drop")
        mapping, dropped = self._mapping_of(man)
        mapping.pop(physical, None)
        dropped.add(physical)
        # Carry ALL top-level metadata (r13: the hand-built list here
        # silently dropped cluster_by/bloom/schema), then override the
        # mapping keys — and clear properties the dead column anchored:
        # a cluster_by or bloom_index referencing the dropped PHYSICAL
        # name would direct staging sorts / probe pruning at a column
        # no reader can name.
        carried = self._carry_mapping(man)
        carried.pop("column_mapping", None)
        carried.pop("dropped_columns", None)
        if physical in (carried.get("cluster_by") or []):
            carried.pop("cluster_by", None)
        if physical in ((carried.get("bloom_index") or {}).get("columns") or []):
            carried.pop("bloom_index", None)
        manifest = {
            "op": "drop_column",
            "merge_buckets": man.get("merge_buckets"),
            **({"primary_keys": man["primary_keys"]} if man.get("primary_keys") else {}),
            "entries": man.get("entries") or [],
            **carried,
            **({"column_mapping": mapping} if mapping else {}),
            "dropped_columns": sorted(dropped),
            **self._carry_dv(man),
        }
        return {"base_version": version, "manifest": manifest}

    # A checkpoint sidecar at or above this size is scanned WITH SPARK
    # instead of being decoded into a driver-side Python list — the
    # remaining 100-TB metadata ceiling (10M files ≈ multi-GB of entry
    # dicts) moves to the executors. Kept well above typical test
    # tables so the exhaustively-tested Python path stays the default
    # for small snapshots; lower per-instance to force the
    # distributed path.
    DISTRIBUTED_MANIFEST_MIN_BYTES = 8 << 20

    # In a distributed scan, once at least this many files survive
    # pruning (an unselective predicate over a huge table), the
    # surviving PATH LIST itself is the driver bottleneck. Above the
    # threshold, entries whose live files all survive collapse to
    # whole-dir groups (no per-file paths cross the driver; bucket
    # liveness rides as a row filter) and only partially-pruned
    # entries ship explicit file lists — driver memory O(data dirs +
    # partially-pruned files). Below it, the exact file-list plan is
    # kept, byte-identical to the driver path.
    DISTRIBUTED_SURVIVOR_COLLAPSE_MIN = 100_000

    def _visible_head_version(self, table_name: str) -> int | None:
        """Newest VISIBLE version — the txn-group walk of
        :meth:`_latest_commit` without forcing full-manifest
        resolution (O(KB) commit-JSON reads). None when the table has
        no visible snapshot (never written, or only undecided/aborted
        head prepares). Maintenance verbs (bloom build/coverage) plan
        from THIS, never the raw ``_discover_latest`` head: the head
        being an in-flight or aborted prepare is a normal state after
        any txn abort, not an error."""
        raw = self._discover_latest(table_name)
        if raw is None:
            return None
        on_branch = self._branch is not None
        floor = self._branch_info(table_name)["base"] if on_branch else None
        v = raw
        while v >= 1:
            if on_branch and v <= floor:
                on_branch = False  # below the fork: main's history
            head = self._man_cache.get(
                (table_name, v)
            ) or self._read_commit_json(table_name, v)
            if (
                self._ref_match(table_name, head)
                if on_branch
                else head.get("branch") is None
            ):
                gid = head.get("txn_group")
                if gid is None or self._group_verdict(gid) == "commit":
                    return v
            v -= 1
        return None

    def _scan_source(
        self, table_name: str, version: int | None
    ) -> tuple[dict, "DataFrame | None", dict | None]:
        """Resolve a snapshot for scan planning, choosing between the
        driver-side (small, cached) and distributed (large-sidecar)
        representations.

        Returns ``(top_fields, entries_df, manifest)``: exactly one of
        ``entries_df`` / ``manifest`` is non-None. ``top_fields`` is
        always the newest commit's small metadata (column mapping,
        checks, keys) — all that predicate translation needs.
        """
        from pyairbyte_spark import manifest as mf

        if version is None:
            version = self._visible_head_version(table_name)
            if version is None:
                raise FileNotFoundError(
                    f"table {table_name!r} does not exist"
                )
        cached = self._man_cache.get((table_name, version))
        if cached is not None:  # already materialized — reuse it
            self._require_visible(table_name, version, cached)
            return cached, None, cached
        top_raw = self._read_commit_json(table_name, version)
        self._require_visible(table_name, version, top_raw)
        chain: list[dict] = []
        cur = top_raw
        while mf.is_delta(cur):
            chain.append(cur)
            cur = self._read_commit_json(table_name, cur["base"])
        ref = cur.get("entries_ref")
        if ref is not None:
            sidecar = os.path.join(self._commits_dir(table_name), ref)
            try:
                size = self.io.file_size(sidecar)
            except (FileNotFoundError, NotImplementedError):
                size = -1
            if size >= self.DISTRIBUTED_MANIFEST_MIN_BYTES:
                spath = self.io.spark_read_path(sidecar)
                if spath is not None:
                    return (
                        mf.top_fields(top_raw),
                        self._entries_frame(spath, chain),
                        None,
                    )
        man = self._read_manifest(table_name, version)
        return man, None, man

    def _entries_frame(self, sidecar_path: str, chain: list[dict]) -> DataFrame:
        """The checkpoint sidecar as a Spark DataFrame (one row per
        data file + one header row per entry; schema from
        ``manifest.entries_to_parquet_bytes``) with the delta chain
        applied RELATIONALLY: removals/replacements filter by
        ``entry_path``, added/replacement entries union in as small
        in-memory frames. Driver memory is O(changed entries), not
        O(table)."""
        from pyairbyte_spark import manifest as mf

        df = self.spark.read.parquet(sidecar_path)
        if "extra" not in df.columns:  # pre-extra sidecar layout
            df = df.withColumn("extra", F.lit(None).cast("string"))
        for delta in reversed(chain):  # oldest delta first
            gone = list(delta.get("remove_paths") or []) + list(
                (delta.get("replace_entries") or {}).keys()
            )
            if gone:
                df = df.filter(~F.col("entry_path").isin(gone))
            new_entries = list(
                (delta.get("replace_entries") or {}).values()
            ) + list(delta.get("add_entries") or [])
            if new_entries:
                import io as _io

                import pyarrow.parquet as _pq

                tbl = _pq.read_table(
                    _io.BytesIO(mf.entries_to_parquet_bytes(new_entries))
                )
                add = self.spark.createDataFrame(
                    tbl.to_pylist(), schema=df.schema
                )
                df = df.unionByName(add)
        return df

    def _plan_scan_distributed(
        self,
        table_name: str,
        top: dict,
        entries_df: DataFrame,
        preds: list[list[tuple]],
    ) -> dict:
        """:meth:`plan_scan` over the sidecar frame: the liveness rule
        runs as JVM filters, the bloom bits join on through
        :meth:`_bloom_join`, and :func:`_file_may_survive` runs in the
        Arrow-batched pandas UDF of :func:`_survive_udf` — the driver
        loop's rule in a second venue. Only surviving paths are
        collected."""
        root = self.table_path(table_name)
        file_rows = entries_df.filter(F.col("file_path").isNotNull())
        live = entries_df.filter(_live_file_col())
        bloom_meta = top.get("bloom_index")
        bloom_cols = self._bloom_pred_cols(bloom_meta, preds)
        joined = (
            self._bloom_join(live, table_name, bloom_meta, bloom_cols)
            if bloom_cols
            else None
        )
        live = (
            joined
            if joined is not None
            else live.withColumn(
                "__blooms",
                F.lit(None).cast(
                    "array<struct<col:string,m:int,k:int,bits:binary>>"
                ),
            )
        )
        flagged = live.withColumn(
            "__match",
            _survive_udf(preds)(
                F.col("stats"), F.col("rows"), F.col("sv"), F.col("__blooms")
            )
            if preds
            else F.lit(True),
        )
        agg = flagged.agg(
            F.count(F.lit(1)).alias("t"),
            F.sum(F.col("__match").cast("long")).alias("s"),
            F.sum(F.col("__blooms").isNull().cast("long")).alias("u"),
        ).collect()[0]
        total = int(agg["t"] or 0)
        selected = int(agg["s"] or 0)
        groups: list[dict] = []
        # Entry header rows carry the entry-level keys in ``extra``:
        # SHALLOW-CLONE entries reference another table's dir, and the
        # recorded schema lets each group skip footer inference.
        hdr = entries_df.filter(F.col("file_path").isNull()).withColumns(
            {
                "__base": _entry_base_col(),
                "__schema": F.get_json_object(F.col("extra"), "$.schema"),
            }
        )
        hdr_base = hdr.select("entry_path", "__base")
        if selected >= self.DISTRIBUTED_SURVIVOR_COLLAPSE_MIN:
            # Unselective regime: the surviving PATH LIST itself would
            # be the driver bottleneck. Summarize survival per ENTRY
            # (O(data dirs) rows — entries are commits' data dirs, a
            # few orders of magnitude fewer than files): an entry whose
            # live files all survive collapses to a whole-dir group
            # (no per-file paths cross the driver; bucket liveness
            # rides as a row filter), and only partially-pruned entries
            # ship explicit file lists.
            #
            # Collapse is legal ONLY for dir-complete entries. A COW
            # delete/update/optimize shrinks an entry's file list below
            # its directory's physical contents (superseded files stay
            # on disk until vacuum); such entries carry ``pruned`` and
            # MUST keep explicit file lists — a whole-dir read would
            # resurrect deleted rows and duplicate rewritten ones.
            hdr_meta = hdr.select(
                "entry_path",
                F.coalesce(
                    F.get_json_object(F.col("extra"), "$.pruned").cast(
                        "boolean"
                    ),
                    F.lit(False),
                ).alias("__pruned"),
                "__base",
                "__schema",
            )
            summary = (
                flagged.groupBy("entry_path")
                .agg(
                    F.count(F.lit(1)).alias("n_live"),
                    F.sum(F.col("__match").cast("long")).alias("n_surv"),
                    F.first("entry_buckets").alias("entry_buckets"),
                )
                .join(hdr_meta, "entry_path", "left")
                .collect()
            )
            partial = [
                r["entry_path"]
                for r in summary
                if 0 < int(r["n_surv"] or 0)
                and (int(r["n_surv"]) < int(r["n_live"]) or bool(r["__pruned"]))
            ]
            for r in summary:
                if (
                    int(r["n_surv"] or 0) == int(r["n_live"]) > 0
                    and not bool(r["__pruned"])
                ):
                    groups.append(
                        {
                            "base": os.path.join(
                                r["__base"] or root, r["entry_path"]
                            ),
                            "paths": None,
                            "live": (
                                list(r["entry_buckets"])
                                if r["entry_buckets"] is not None
                                else None
                            ),
                            "schema": r["__schema"],
                        }
                    )
            surv = (
                flagged.filter(
                    F.col("__match") & F.col("entry_path").isin(partial)
                )
                .join(hdr_base, "entry_path", "left")
                .select("entry_path", "file_path", "__base")
                .collect()
                if partial
                else []
            )
        else:
            # Selective regime: collect exactly the survivors — the
            # plan stays byte-identical to the driver path. The base
            # rides each collected row (clone entries resolve to their
            # source dir) — still O(survivors) driver rows.
            surv = (
                flagged.filter(F.col("__match"))
                .join(hdr_base, "entry_path", "left")
                .select("entry_path", "file_path", "__base")
                .collect()
            )
        by_entry: dict[tuple[str, str], list[str]] = {}
        for r in surv:
            b = r["__base"] or root
            by_entry.setdefault((b, r["entry_path"]), []).append(
                os.path.join(b, r["entry_path"], r["file_path"])
            )
        # One header collect: the pre-stats entries, plus each surviving
        # entry's recorded schema — once per ENTRY, not per surviving
        # file row.
        hdrs = (
            hdr.filter(
                ~F.col("has_files")
                | F.col("entry_path").isin(sorted({ep for _, ep in by_entry}))
            )
            .select(
                "entry_path", "entry_buckets", "has_files", "__base", "__schema"
            )
            .collect()
        )
        schema_of = {r["entry_path"]: r["__schema"] for r in hdrs}
        groups.extend(
            {
                "base": os.path.join(b, ep),
                "paths": ps,
                "live": None,
                "schema": schema_of.get(ep),
            }
            for (b, ep), ps in by_entry.items()
        )
        # Pre-stats entries (no file list): whole-dir groups with
        # row-level bucket filtering, exactly as the driver path.
        for r in hdrs:
            if r["has_files"]:
                continue
            groups.append(
                {
                    "base": os.path.join(
                        r["__base"] or root, r["entry_path"]
                    ),
                    "paths": None,
                    "live": (
                        list(r["entry_buckets"])
                        if r["entry_buckets"] is not None
                        else None
                    ),
                    "schema": r["__schema"],
                }
            )
        plan = {
            "files_total": total,
            "files_selected": selected,
            "groups": groups,
            "predicates": preds,
            "manifest": top,
            "distributed": True,
        }
        if joined is not None:
            plan["files_bloom_uncovered"] = int(agg["u"] or 0)
        if not groups:
            # Everything skipped: read_where still needs a schema
            # source; hand it ONE live file instead of the manifest's
            # (unmaterialized) entry list.
            one = (
                file_rows.select("entry_path", "file_path")
                .limit(1)
                .collect()
            )
            if not one:
                raise FileNotFoundError(
                    f"table {table_name!r} snapshot is empty"
                )
            plan["schema_path"] = os.path.join(
                root, one[0]["entry_path"], one[0]["file_path"]
            )
        return plan

    def plan_scan(
        self,
        table_name: str,
        predicates: list[tuple] | None = None,
        *,
        version: int | None = None,
    ) -> dict:
        """Data skipping: resolve the snapshot's live files and keep
        only those that may hold a row matching ``predicates``.
        Returns ``{"files_total", "files_selected", "groups"}`` where
        ``files_total`` counts the snapshot's LIVE files — the
        total/selected gap is exactly the I/O data skipping saved.

        One per-file rule, :func:`_file_may_survive`: a file is
        dropped when its zone maps prove no row matches (footer stats;
        see ``filestats.py``), or when the table's bloom index covers
        the file and its bits rule out every ``=``/``in`` lookup on an
        indexed column. A file without index rows for the predicate's
        indexed columns is kept. When the predicate uses an indexed
        column and the index was read, ``files_bloom_uncovered`` is
        the number of LIVE files without such rows; a removed index
        dir prunes nothing and omits the key.

        Two venues run the rule. A snapshot whose checkpoint sidecar
        is below :attr:`DISTRIBUTED_MANIFEST_MIN_BYTES` is planned on
        the driver from the materialized manifest: pure manifest
        arithmetic, no Spark job, with the index's bits cached
        driver-side (:meth:`_bloom_map`). An index over
        ``_BLOOM_CACHE_MAX_BYTES`` never reaches the driver: after the
        zone maps, one job joins every live file key to the index
        (:meth:`_bloom_join`) and collects the keys its bits admit;
        it runs only when some file survives the zone maps. Above the
        threshold the entry list is NOT materialized on the driver at
        all: the sidecar (one parquet row per data file) is read as a
        Spark DataFrame, the index joins on, the rule runs in a pandas
        UDF, and only the SURVIVING file paths cross back to the
        driver (Delta's distributed checkpoint-scan pattern). Driver
        memory stays O(matching files), flat in table size.
        """
        from pyairbyte_spark.filestats import normalize_dnf

        preds = normalize_dnf(predicates)
        top, entries_df, man = self._scan_source(table_name, version)
        # stats are keyed by PHYSICAL column names; callers predicate
        # on the logical view.
        preds = self._physical_dnf(top, preds)
        if entries_df is not None:
            return self._plan_scan_distributed(
                table_name, top, entries_df, preds
            )
        meta = man.get("bloom_index")
        cols = self._bloom_pred_cols(meta, preds)
        blooms = self._bloom_map(table_name, meta) if cols else None
        total = uncovered = 0
        kept: list[tuple[dict, list[dict]]] = []  # (entry, surviving files)
        for e in man.get("entries") or []:
            live = e.get("buckets")
            fs: list[dict] = []
            for f in e.get("files") or []:
                if not _file_live(live, f):
                    continue  # superseded bucket data — never live
                total += 1
                fb = None
                if isinstance(blooms, dict):
                    fb = blooms.get((e["path"], f["path"]))
                    if fb is None or cols.isdisjoint(fb):
                        fb = None
                        uncovered += 1
                if _file_may_survive(f, fb, preds):
                    fs.append(f)
            kept.append((e, fs))
        if blooms is self._BLOOM_OVERSIZE:
            # Zone maps ran above; the bits of an over-cap index never
            # reach the driver. One job joins every live file key to
            # the index and collects the keys its bits admit.
            blooms = joined = None
            if any(fs for _e, fs in kept):
                joined = self._bloom_join(
                    self._live_files_frame(table_name, man, None),
                    table_name,
                    meta,
                    cols,
                )
            if joined is not None:
                nul = F.lit(None)
                admits = _survive_udf(preds)(
                    nul.cast("string"),
                    nul.cast("long"),
                    nul.cast("long"),
                    F.col("__blooms"),
                )
                rows = (
                    joined.filter(admits)
                    .select("entry_path", "file_path", F.col("__blooms").isNull())
                    .collect()
                )
                blooms = {(r[0], r[1]): r[2] for r in rows}  # key -> uncovered
                uncovered = sum(blooms.values())
                kept = [
                    (e, [f for f in fs if (e["path"], f["path"]) in blooms])
                    for e, fs in kept
                ]
        groups: list[dict] = []
        for e, fs in kept:
            if e.get("files") is None or fs:
                base = os.path.join(self._entry_base(table_name, e), e["path"])
                # A pre-stats entry (no file list) reads its whole dir
                # with dead buckets row-filtered: correct, unskippable.
                groups.append(
                    {
                        "base": base,
                        "paths": (
                            None
                            if e.get("files") is None
                            else [os.path.join(base, f["path"]) for f in fs]
                        ),
                        "live": e.get("buckets"),
                        "schema": e.get("schema"),
                    }
                )
        out = {
            "files_total": total,
            "files_selected": sum(len(fs) for _e, fs in kept),
            "groups": groups,
            "predicates": preds,
            "manifest": man,
        }
        if blooms is not None:
            out["files_bloom_uncovered"] = uncovered
        return out

    def read_where(
        self,
        table_name: str,
        predicates: list[tuple],
        *,
        version: int | None = None,
    ) -> DataFrame:
        """Predicate-pushdown read: file-level data skipping from the
        manifest stats, then the same predicates re-applied as row
        filters — exact results whether or not any file was skipped.

        Predicates are conjunctive ``(col, op, value)`` triples with
        ops ``= == < <= > >= in is_null not_null`` (the null ops take
        no value). Anything richer belongs in a normal ``.filter`` on
        top — Spark's parquet reader still does row-group zone-map
        skipping inside the selected files.

        Building the frame launches no Spark job on the driver venue:
        each selected entry is read with the schema its manifest entry
        recorded (:meth:`_read_entry`), so the only job is the caller's
        action. Schema-less legacy entries, and a distributed plan that
        skipped everything, still infer the schema from footers.
        """
        from pyairbyte_spark.filestats import dnf_to_column

        plan = self.plan_scan(table_name, predicates, version=version)
        dvs = plan["manifest"].get("delete_vectors") or []
        parts = [
            self._read_entry(
                g["base"],
                g,
                g["paths"],
                plan["manifest"],
                live=g["live"],
                dv_cols=bool(dvs),
            )
            for g in plan["groups"]
        ]
        if parts:
            df = parts[0]
            for part in parts[1:]:
                df = df.unionByName(part, allowMissingColumns=True)
            if dvs:
                df = self._anti_join_dvs(df, table_name, dvs)
        elif "schema_path" in plan:
            # Distributed plan, everything skipped: schema from one
            # live file (the manifest's entry list was never
            # materialized on the driver).
            df = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(plan["schema_path"])
                .filter(F.lit(False))
            )
        else:
            # Everything skipped: empty frame with the snapshot schema.
            df = self._read_manifest_df(table_name, plan["manifest"]).filter(
                F.lit(False)
            )
        residual = dnf_to_column(plan["predicates"])
        if residual is not None:
            df = df.filter(residual)  # physical names, pre-mapping
        df = self._apply_mapping(df, plan["manifest"])
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def count_where(
        self,
        table_name: str,
        predicates: list[tuple] | None = None,
        *,
        version: int | None = None,
    ) -> dict:
        """EXACT filtered ``COUNT(*)`` — the aggregate-pushdown
        counterpart of :meth:`read_where`, answered as
        :meth:`agg_where`'s ``count(*)`` (same zone-map tiers, same
        venues). An unfiltered count is pure manifest arithmetic
        (:meth:`table_stats`; DV row counts correct merge-on-read
        deletes exactly), zero files read. Returns ``{"count",
        "files_total", "files_metadata", "files_scanned"}`` — total
        minus the other two is the zone-map-pruned tier."""
        from pyairbyte_spark.filestats import normalize_dnf

        preds = normalize_dnf(predicates)
        if not preds:
            ts = self.table_stats(table_name, version=version)
            if ts.get("rows") is not None:
                return {
                    "count": ts["rows"],
                    "files_total": ts.get("files"),
                    "files_metadata": ts.get("files"),
                    "files_scanned": 0,
                }
        r = self._agg_fold(table_name, [("count", "*")], preds, version)
        return {"count": r.pop("aggs")["count_star"], **r}

    # Boundary-path cap for the distributed fold: past this, collect
    # degrades to one ordinary pruned scan (same plan read_where runs).
    COUNT_SCAN_FALLBACK_MAX = 65_536

    # Spark types whose parquet footer min/max are EXACT values in the
    # stats domain (strings truncate, temporals encode, decimals are
    # omitted at harvest) — the metadata tier for MIN/MAX applies only
    # to these.
    _EXACT_STAT_TYPES = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    )

    def _logical_types(self, man: dict) -> "dict[str, str] | None":
        """Logical column -> simpleString() type from the snapshot's
        RECORDED schema JSON (entry-level newest first, then the
        carried top-level field, plus metadata-added columns), or None
        when nothing is recorded — building a Spark frame just to read
        types would re-infer schema over every data dir."""
        sch = _newest_schema(man)
        if not sch:
            return None
        mapping, _dropped = self._mapping_of(man)
        types = {
            mapping.get(c, c): t for c, t in _recorded_types(sch).items()
        }
        for phys, spec in (man.get("added_columns") or {}).items():
            types.setdefault(mapping.get(phys, phys), spec["type"])
        return types

    def _agg_scan_fallback(
        self,
        table_name: str,
        specs: "list[tuple[str, str]]",
        preds: list[list[tuple]],
        version: int | None,
        files_total: int | None = None,
        files_scanned: int | None = None,
    ) -> dict:
        """Every aggregate from one ordinary pruned scan
        (:meth:`read_where`): the distributed venue's plan when the
        snapshot cannot be classified, or when the boundary path list
        would be the driver bottleneck (the scan re-reads the
        metadata-tier files too, so its aggregate alone is the
        complete answer)."""
        df = self.read_where(table_name, preds, version=version)
        return {
            "aggs": df.agg(*_agg_scan_exprs(specs)).collect()[0].asDict(),
            "files_total": files_total,
            "files_metadata": 0,
            "files_scanned": files_scanned,
        }

    def _agg_where_distributed(
        self,
        table_name: str,
        top: dict,
        entries_df: DataFrame,
        preds: list[list[tuple]],
        preds_phys: list[list[tuple]],
        specs: "list[tuple[str, str]]",
        version: int | None,
    ) -> "dict | None":
        """:meth:`_agg_fold` over the checkpoint sidecar: one pandas-UDF
        pass classifies every live file row with :func:`_agg_file_tier`,
        the metadata tier's footer contributions FOLD RELATIONALLY
        (counts and sums add, min/max fold typed from the contribution
        JSON), dominance pruning drops boundary files whose zone maps
        cannot beat the folded candidates, and only the surviving
        boundary paths cross to the driver (capped at
        ``COUNT_SCAN_FALLBACK_MAX``, past which one ordinary pruned scan
        IS the plan). The entry list never materializes on the driver.
        Returns None when the snapshot cannot be classified (pre-stats
        dir entries; min/max without a recorded schema) — the caller
        degrades to one pruned scan."""
        import pandas as pd

        from pyairbyte_spark.filestats import dnf_to_column

        # contributions round-trip through JSON keyed by alias; a
        # column name that isn't a plain word would break the
        # get_json_object path ($.count_a.b traverses!) and silently
        # undercount — degrade those to the pruned scan instead
        if any(
            not re.fullmatch(r"\w+", col)
            for _fn, col in specs
            if col != "*"
        ):
            return None
        phys_of = {
            col: self._to_physical(top, col)
            for _fn, col in specs
            if col != "*"
        }
        # Only min/max need column types (exactness and the fold's SQL
        # type); without the recorded schema they are unknowable.
        types: dict[str, str] = {}
        if any(fn in ("min", "max") for fn, _c in specs):
            types = self._logical_types(top)
            if types is None:
                return None
        exact_minmax = {
            col for col in phys_of if types.get(col) in self._EXACT_STAT_TYPES
        }

        def _sql_type(col: str) -> str:
            return "double" if types.get(col) in ("float", "double") else "long"

        @F.pandas_udf("string")
        def _cls(stats: pd.Series, rows: pd.Series, sv: pd.Series) -> pd.Series:
            out = []
            for s, r, v in zip(stats, rows, sv):
                fe = {
                    "stats": None if s is None else json.loads(s),
                    "rows": None if pd.isna(r) else int(r),
                    "sv": None if pd.isna(v) else int(v),
                }
                c = _agg_file_tier(fe, preds_phys, specs, phys_of, exact_minmax)
                out.append(c if isinstance(c, str) else json.dumps(c))
            return pd.Series(out)

        # Only live file rows are classified (``__c`` is null on the
        # rest); the same pass counts pre-stats dir entries, which have
        # no per-file rows to classify.
        flagged = entries_df.withColumn(
            "__c",
            F.when(
                _live_file_col(),
                _cls(F.col("stats"), F.col("rows"), F.col("sv")),
            ),
        )
        is_meta = F.col("__c").isNotNull() & ~F.col("__c").isin("P", "S")
        agg_exprs = [
            F.count("__c").alias("__t"),
            F.sum((F.col("__c") == "S").cast("long")).alias("__sf"),
            F.sum(is_meta.cast("long")).alias("__mf"),
            F.sum(
                (F.col("file_path").isNull() & ~F.col("has_files")).cast("long")
            ).alias("__pre"),
        ]
        for fn, col in specs:
            a = _agg_alias(fn, col)
            j = F.get_json_object(F.col("__c"), f"$.{a}")
            if fn == "count":
                agg_exprs.append(
                    F.sum(
                        F.when(
                            is_meta,
                            F.coalesce(j.cast("long"), F.lit(0)),
                        ).otherwise(F.lit(0))
                    ).alias(a)
                )
            elif fn == "sum":
                # harvested per-file sums are integral-exact; an
                # absent key (all-null file contributes nothing) is a
                # NULL the fold skips — so a no-contribution window
                # folds to NULL, matching SQL SUM semantics
                agg_exprs.append(
                    F.sum(F.when(is_meta, j.cast("long"))).alias(a)
                )
            else:
                fold = F.min if fn == "min" else F.max
                agg_exprs.append(
                    fold(
                        F.when(is_meta, j.cast(_sql_type(col)))
                    ).alias(a)
                )
        row = flagged.agg(*agg_exprs).collect()[0].asDict()
        if row["__pre"]:
            return None
        n_scan = int(row["__sf"] or 0)
        files_total = int(row["__t"] or 0)
        if n_scan > self.COUNT_SCAN_FALLBACK_MAX:
            return self._agg_scan_fallback(
                table_name, specs, preds, version, files_total, n_scan
            )
        scan_rows = flagged.filter(F.col("__c") == "S")
        if all(fn in ("min", "max") for fn, _c in specs):
            # Dominance pruning, relationally: a boundary file whose
            # zone maps prove it cannot beat ANY folded candidate is
            # never read (stats.min is a lower bound even when
            # truncated, so stats.min >= cand proves "cannot lower
            # the min"; dually for max).
            conds = []
            for fn, col in specs:
                cand = row[_agg_alias(fn, col)]
                if cand is None:
                    conds = None
                    break
                sv = F.get_json_object(
                    F.col("stats"),
                    f"$.{phys_of[col]}.{'min' if fn == 'min' else 'max'}",
                ).cast(_sql_type(col))
                conds.append(
                    sv.isNotNull()
                    & (sv >= F.lit(cand) if fn == "min" else sv <= F.lit(cand))
                )
            if conds:
                dominated = conds[0]
                for c in conds[1:]:
                    dominated = dominated & c
                scan_rows = scan_rows.filter(~dominated)
        scanned: dict = {}
        paths: list[str] = []
        # Zero boundary files (every live file answered from metadata
        # or pruned — the common zero-read case this tier exists for):
        # scan_rows is empty by construction, so skip its collect
        # outright instead of paying a scheduler round-trip to learn
        # that (one job per metadata-answered call).
        if n_scan > 0:
            hdr_base = entries_df.filter(F.col("file_path").isNull()).select(
                "entry_path", _entry_base_col().alias("__base")
            )
            root = self.table_path(table_name)
            paths = [
                os.path.join(
                    r["__base"] or root, r["entry_path"], r["file_path"]
                )
                for r in scan_rows.select("entry_path", "file_path")
                .join(hdr_base, "entry_path", "left")
                .collect()
            ]
        if paths:
            df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
            df = self._fill_added(df, top)
            residual = dnf_to_column(preds_phys)
            if residual is not None:
                df = df.filter(residual)
            scanned = df.agg(*_agg_scan_exprs(specs, phys_of)).collect()[0].asDict()
        return {
            "aggs": _agg_merge(specs, row, scanned),
            "files_total": files_total,
            "files_metadata": int(row["__mf"] or 0),
            "files_scanned": len(paths),
        }

    def agg_where(
        self,
        table_name: str,
        aggs: "list[tuple[str, str]]",
        predicates: list[tuple] | None = None,
        *,
        version: int | None = None,
    ) -> dict:
        """EXACT filtered SUM/MIN/MAX/COUNT/AVG with metadata
        short-circuits, for a list of ``(fn, col)`` aggregates (``fn``
        in ``count/sum/min/max/avg``; ``col`` may be ``"*"`` for
        ``count``). Each live file is classified by its zone maps into
        one of three tiers:

        - provably NO row matches (``file_may_match_dnf`` false) —
          skipped, contributes nothing;
        - provably EVERY row matches (``file_must_match_dnf``: null
          count 0 and [min,max] inside the predicate range) AND every
          requested aggregate is stats-answerable for the file —
          answered from the footer stats, never read: ``count(*)``
          from the row count, ``count(col)`` from rows − nulls,
          ``min/max(col)`` from the column's zone map when the
          column's type makes footer min/max exact values (numeric;
          strings truncate and temporals encode, so they scan);
        - boundary (or stats-insufficient) — scanned with the residual
          filter, ALL aggregates computed from data (a file is never
          split between tiers, so nothing double-counts).

        On a time/bucket-clustered 100 TB table a range count reads
        only the two boundary files of the range, and ``min/max`` of
        the cluster key over a range is answered from boundary files
        only (Delta answers unfiltered counts from its log; this
        extends the trick to predicates and to MIN/MAX/SUM).

        ``sum(col)`` joins the metadata tier when the store harvested
        per-file sums for the column (``harvest_sums=True`` at staging,
        or a :meth:`build_sum_stats` backfill) — parquet footers carry
        no sum, so un-harvested columns scan every matching file (only
        the referenced columns, columnar projection, over the
        may-match sliver). No mainstream format (Delta/Iceberg)
        records per-file sums; this store's owned manifests can.
        ``avg`` decomposes to ``sum + count(col)`` before
        classification (per-file averages don't merge; sum+count pairs
        do) and divides the exact totals once at the end. When every
        requested aggregate is min/max, boundary files whose zone maps
        prove they cannot improve the metadata-tier candidates are
        additionally skipped (min-dominance: a file with ``stats.min
        >= cand_min`` cannot lower the minimum — a point-lookup-style
        plan on a clustered 100 TB table reads only the competitive
        files). Column types are resolved only for min/max.

        Merge-on-read DVs poison footer stats: on a DV-bearing
        snapshot the metadata tier is off, files still zone-map prune
        and the scan applies the DVs (exact either way).
        Checkpoint-sidecar (distributed-manifest) snapshots run the
        same classifier as one Spark job (:meth:`_agg_where_distributed`)
        — the entry list never materializes on the driver; DV-bearing
        or unclassifiable ones degrade to one pruned scan.
        Returns ``{"aggs": {alias: value}, "files_total",
        "files_metadata", "files_scanned"}`` with aliases
        ``{fn}_{col}`` (``count_star`` for ``count(*)``); empty match
        sets yield SQL semantics (count 0, sum/min/max None).
        ``files_total``/``files_scanned`` are None when a pre-stats
        entry or the scan fallback leaves them unknown.
        """
        from pyairbyte_spark.filestats import normalize_dnf

        specs: list[tuple[str, str]] = []
        for fn, col in aggs:
            fn = fn.lower()
            if fn not in ("count", "sum", "min", "max", "avg"):
                raise ValueError(
                    f"unsupported aggregate {fn!r}; expected "
                    "count/sum/min/max/avg"
                )
            if col == "*" and fn != "count":
                raise ValueError(f"{fn}(*) is not an aggregate")
            specs.append((fn, col))
        if not specs:
            raise ValueError("agg_where requires at least one aggregate")
        preds = normalize_dnf(predicates)
        if not any(fn == "avg" for fn, _c in specs):
            return self._agg_fold(table_name, specs, preds, version)
        # AVG = SUM / COUNT(col), decomposed so both venues only ever
        # fold mergeable aggregates (a per-file average is not
        # mergeable; a per-file sum+count pair is). The division
        # happens once, here, on the exact integer totals.
        internal: list[tuple[str, str]] = []
        for fn, col in specs:
            for p in [("sum", col), ("count", col)] if fn == "avg" else [(fn, col)]:
                if p not in internal:
                    internal.append(p)
        r = self._agg_fold(table_name, internal, preds, version)
        ia = r["aggs"]
        out: dict = {}
        for fn, col in specs:
            a = _agg_alias(fn, col)
            if fn == "avg":
                s = ia.get(f"sum_{col}")
                c = ia.get(f"count_{col}")
                out[a] = None if not c or s is None else s / c
            else:
                out[a] = ia.get(a)
        return {**r, "aggs": out}

    def _agg_fold(
        self,
        table_name: str,
        specs: "list[tuple[str, str]]",
        preds: list[list[tuple]],
        version: int | None,
    ) -> dict:
        """The one aggregate-pushdown fold behind :meth:`agg_where` and
        :meth:`count_where`: validated count/sum/min/max ``specs`` over
        the normalized logical DNF ``preds``, in the snapshot's venue.
        Returns :meth:`agg_where`'s dict."""
        from pyairbyte_spark.filestats import dnf_to_column

        top, entries_df, man = self._scan_source(table_name, version)
        preds_phys = self._physical_dnf(top, preds)
        if entries_df is not None:
            r = None
            if not top.get("delete_vectors"):
                r = self._agg_where_distributed(
                    table_name, top, entries_df, preds, preds_phys, specs,
                    version,
                )
            if r is None:
                r = self._agg_scan_fallback(table_name, specs, preds, version)
            return r
        phys_of = {
            col: self._to_physical(man, col)
            for _fn, col in specs
            if col != "*"
        }
        exact_minmax: set[str] = set()
        if any(fn in ("min", "max") for fn, _c in specs):
            types = self._logical_types(man)
            if types is None:  # pre-schema manifest: the scan's own view
                types = {
                    f.name: f.dataType.simpleString()
                    for f in self._apply_mapping(
                        self._read_manifest_df(table_name, man), man
                    ).schema.fields
                }
            exact_minmax = {
                col
                for col in phys_of
                if types.get(col) in self._EXACT_STAT_TYPES
            }
        # MoR DVs poison footer stats: the metadata tier is off, while
        # zone-map pruning stays sound and the scan applies the DVs.
        meta_ok = not man.get("delete_vectors")
        meta: dict = {}
        meta_files = total = 0
        scan_entries: list[dict] = []
        exact_total = True
        for e in man.get("entries") or []:
            files = e.get("files")
            if files is None:
                # Pre-stats entry: the dir itself is the authority.
                scan_entries.append(e)
                exact_total = False
                continue
            keep: list[dict] = []
            for f in files:
                if not _file_live(e.get("buckets"), f):
                    continue
                total += 1
                c = _agg_file_tier(
                    f, preds_phys, specs, phys_of, exact_minmax, meta_ok
                )
                if c == "S":
                    keep.append(f)
                elif c != "P":
                    meta = _agg_merge(specs, meta, c)
                    meta_files += 1
            if keep:
                scan_entries.append({**e, "files": keep})
        if scan_entries and all(fn in ("min", "max") for fn, _c in specs):
            # Dominance pruning: a boundary file whose zone maps prove
            # it cannot beat any metadata candidate is never read
            # (stats.min is a lower bound even when truncated, so
            # stats.min >= cand proves "cannot lower the min"; dually
            # for max with the bumped upper bound).
            def _competes(f: dict) -> bool:
                stats = f.get("stats") or {}
                for fn, col in specs:
                    cand = meta.get(_agg_alias(fn, col))
                    v = (stats.get(phys_of[col]) or {}).get(fn)
                    if cand is None or v is None:
                        return True
                    if v < cand if fn == "min" else v > cand:
                        return True
                return False

            pruned: list[dict] = []
            for e in scan_entries:
                if e.get("files") is None:
                    pruned.append(e)
                    continue
                keep = [f for f in e["files"] if _competes(f)]
                if keep:
                    pruned.append({**e, "files": keep})
            scan_entries = pruned
        n_scan = sum(len(e.get("files") or []) for e in scan_entries)
        scanned: dict = {}
        if scan_entries:
            df = self._apply_mapping(
                self._entries_df(table_name, scan_entries, dv_man=man), man
            )
            residual = dnf_to_column(preds)  # logical names post-mapping
            if residual is not None:
                df = df.filter(residual)
            scanned = df.agg(*_agg_scan_exprs(specs)).collect()[0].asDict()
        return {
            "aggs": _agg_merge(specs, meta, scanned),
            "files_total": total if exact_total else None,
            "files_metadata": meta_files,
            "files_scanned": n_scan if exact_total else None,
        }

    def history(self, table_name: str) -> list[dict]:
        """Commit history, newest first (op + version per commit)."""
        d = self._commits_dir(table_name)
        names = sorted(
            (n for n in self.io.list_names(d) if n.endswith(".json")),
            reverse=True,
        )
        out = []
        for n in names:
            m = json.loads(self.io.read_text(os.path.join(d, n)))
            rec = {
                "version": int(n[:-5]),
                "op": m.get("op"),
                "merge_buckets": m.get("merge_buckets"),
                **({"ts": m["ts"]} if m.get("ts") else {}),
                **(
                    {"restored_version": m["restored_version"]}
                    if m.get("restored_version")
                    else {}
                ),
                **(
                    {
                        "delete_vectors": len(m["delete_vectors"]),
                        "dv_rows": sum(
                            d.get("rows") or 0 for d in m["delete_vectors"]
                        ),
                    }
                    if m.get("delete_vectors")
                    else {}
                ),
                **({"txns": dict(m["txns"])} if m.get("txns") else {}),
                # Multi-table txn prepares stay in the log as an audit
                # trail; verdict tells whether this slot ever became a
                # visible snapshot.
                **(
                    {
                        "txn_group": m["txn_group"],
                        "txn_verdict": self._group_verdict(m["txn_group"])
                        or "in-flight",
                    }
                    if m.get("txn_group")
                    else {}
                ),
                # Branch commits stay in the log as the audit trail of
                # their ref; the tag says which history they belong to.
                **({"branch": m["branch"]} if m.get("branch") else {}),
                **(
                    {"published_branch": m["published_branch"]}
                    if m.get("published_branch")
                    else {}
                ),
            }
            if "entries_ref" in m:  # parquet-checkpointed full manifest
                rec["n_entries"] = m.get("n_entries")
                rec["checkpoint"] = m["entries_ref"]
            elif "entries" in m:
                rec["n_entries"] = len(m.get("entries") or [])
            else:  # delta commit: report its O(changed) action counts
                rec["incremental"] = True
                rec["n_changed"] = (
                    len(m.get("add_entries") or [])
                    + len(m.get("replace_entries") or {})
                    + len(m.get("remove_paths") or [])
                )
            out.append(rec)
        return out

    def table_stats(
        self, table_name: str, *, version: int | None = None
    ) -> dict:
        """Snapshot statistics straight from the manifest — row count,
        live file count, bytes, per-column min/max — NO Spark job and
        no file I/O beyond one JSON read. The metadata-only fast path
        for ``count(*)`` / freshness checks that a 100 TB table would
        otherwise answer with a full scan (Delta answers these from
        its log the same way). Returns None fields when any live file
        predates the stats layer or lacks a row count (then only a
        scan knows).

        Above :attr:`DISTRIBUTED_MANIFEST_MIN_BYTES` the aggregation
        runs as one small Spark job over the checkpoint sidecar (the
        manifest is never materialized on the driver); below it, pure
        driver arithmetic as before."""
        top, entries_df, man = self._scan_source(table_name, version)
        if entries_df is not None:
            return self._table_stats_distributed(top, entries_df)
        exact = True
        n_files = rows = size = 0
        col_stats: dict[str, dict] = {}
        dead_cols: set[str] = set()
        for e in man.get("entries") or []:
            if e.get("files") is None:
                exact = False
            for f in e.get("files") or []:
                if not _file_live(e.get("buckets"), f):
                    continue
                n_files += 1
                if f.get("rows") is None:
                    exact = False
                rows += f.get("rows") or 0
                size += f.get("bytes") or 0
                for c, s in (f.get("stats") or {}).items():
                    _zone_merge(col_stats, dead_cols, c, s)
        return self._table_stats_out(man, exact, n_files, rows, size, col_stats)

    def _table_stats_out(
        self,
        top: dict,
        exact: bool,
        n_files: int,
        rows: int,
        size: int,
        col_stats: dict,
    ) -> dict:
        """:meth:`table_stats`'s result from either venue's fold: zone
        maps keyed by logical name, and the row count corrected for
        merge-on-read deletes — file footers still count the deleted
        rows; the manifest's DV records carry the exact correction.
        (Per-column min/max/nulls stay upper bounds — same contract as
        Iceberg's stats over position deletes.)"""
        mapping, dropped = self._mapping_of(top)
        dv_rows = sum(
            d.get("rows") or 0 for d in top.get("delete_vectors") or []
        )
        return {
            "rows": rows - dv_rows if exact else None,
            "files": n_files if exact else None,
            "bytes": size if exact else None,
            "columns": {
                mapping.get(c, c): s
                for c, s in col_stats.items()
                if c not in dropped and c != BUCKET_COL
            }
            if exact
            else {},
            "version": top.get("version"),
        }

    def _table_stats_distributed(self, top: dict, entries_df: DataFrame) -> dict:
        """:meth:`table_stats` over the sidecar frame: counts/sums as
        one JVM aggregation; per-column min/max as per-partition
        partials (``mapInPandas`` emitting ≤ 32 rows per partition)
        merged on the driver — bounded output at any file count."""
        import pandas as pd

        is_file = F.col("file_path").isNotNull()
        is_live = _live_file_col()
        agg = entries_df.agg(
            F.sum(is_live.cast("long")).alias("files"),
            F.sum(F.when(is_live, F.col("rows"))).alias("rows"),
            F.sum(is_live.cast("long") * F.col("rows").isNull().cast("long")).alias(
                "norows"
            ),
            F.sum(F.when(is_live, F.col("bytes"))).alias("bytes"),
            F.sum(
                ((~is_file) & (~F.col("has_files"))).cast("long")
            ).alias("prestat"),
        ).collect()[0]
        exact = not (agg["prestat"] or 0) and not (agg["norows"] or 0)
        col_stats: dict[str, dict] = {}
        dead_cols: set[str] = set()
        if exact:

            def _partials(batches):
                acc: dict[str, dict] = {}
                dead: set[str] = set()
                for pdf in batches:
                    for s in pdf["stats"]:
                        for c, st in json.loads(s or "{}").items():
                            _zone_merge(acc, dead, c, st)
                yield pd.DataFrame(
                    {
                        "col": list(acc) + sorted(dead),
                        "stat": [json.dumps(acc[c]) for c in acc]
                        + [None] * len(dead),
                    }
                )

            partials = (
                entries_df.filter(is_live)
                .select("stats")
                .mapInPandas(_partials, schema="col string, stat string")
                .collect()
            )
            for r in partials:
                c = r["col"]
                if r["stat"] is None:
                    dead_cols.add(c)
                    col_stats.pop(c, None)
                    continue
                st = json.loads(r["stat"])
                _zone_merge(col_stats, dead_cols, c, st, st.get("files") or 0)
        return self._table_stats_out(
            top,
            exact,
            int(agg["files"] or 0),
            int(agg["rows"] or 0),
            int(agg["bytes"] or 0),
            col_stats,
        )

    # -- change data feed ---------------------------------------------------

    def latest_version(self, table_name: str) -> int:
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        return snap[0]

    def txn_version(self, table_name: str, app_id: str) -> int:
        """The highest idempotent-append ``batch_id`` committed for
        ``app_id`` (−1 if none) — Delta's ``txnVersion``. What a
        restarted streaming writer consults to decide where its replay
        window ends."""
        snap = self._latest_commit(table_name)
        if snap is None:
            return -1
        return int((snap[1].get("txns") or {}).get(app_id, -1))

    @staticmethod
    def _row_digest(df: DataFrame):
        """Order-stable digest of a row's USER-visible values.

        Excludes the airbyte bookkeeping columns on purpose: a re-sync
        that rewrites a row with identical user data (new raw id /
        extracted-at) is NOT a change downstream consumers care about.
        ``to_json`` drops null fields, which also normalizes
        missing-column-vs-null across schema evolution.
        """
        exclude = {AB_RAW_ID_COLUMN, AB_EXTRACTED_AT_COLUMN, BUCKET_COL}
        cols = sorted(c for c in df.columns if c not in exclude)
        return F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))

    def read_changes(
        self,
        table_name: str,
        from_version: int,
        to_version: int | None = None,
        *,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Change data feed: the row-level changes that turned snapshot
        ``from_version`` into ``to_version`` (default: latest), as a
        DataFrame with ``_change_type`` (``insert`` /
        ``update_postimage`` / ``delete`` / ``upsert``) and
        ``_commit_version`` columns — the commit-log analogue of Delta
        Lake's CDF (``table_changes``). ``from_version=0`` reads
        changes since table creation.

        Per-commit cost model (the 100 TB story):

        - APPEND commits are free to diff — the changes ARE the staged
          directory's rows; no comparison runs.
        - Incremental MERGE commits diff only the TOUCHED buckets: the
          staged entry vs the prior snapshot's matching buckets, joined
          on the recorded primary keys to split insert from
          update_postimage (a rewritten-but-identical row — same user
          values, new bookkeeping — is digest-suppressed, not emitted).
        - REPLACE emits prior rows as ``delete`` + new rows as
          ``insert`` (snapshot swap; no pairing is defined).
        - COMPACT commits move bytes, not rows — skipped.

        Merge commits written before primary keys were recorded in the
        manifest fall back to a digest-only diff labeled ``upsert``.
        Requires the intervening versions to not have been vacuumed.

        ``include_preimages`` additionally emits ``update_preimage``
        rows (the modified rows' PRIOR values) for UPDATE and merge
        upserts — Delta CDF parity, and what sign-based incremental
        consumers (``operators/incremental.py``: subtract the
        preimage, add the postimage) need to maintain aggregates
        without rescanning.
        """
        to = self.latest_version(table_name) if to_version is None else to_version
        if from_version > to:
            raise ValueError(
                f"from_version {from_version} is after to_version {to}"
            )
        steps = []
        # Adjacent plain-append commits fold into ONE scan (per-file
        # commit recovery from the entry-dir name) instead of one scan
        # plan per commit: a follower catching up over K appended
        # micro-batches otherwise builds K relation plans for what is
        # physically one multi-dir read. Runs split on anything that
        # isn't a provably-plain append (other ops, schema/mapping
        # drift, DVs, bucketed or cloned entries) — those keep the
        # per-commit path unchanged — and at CDF_APPEND_RUN_MAX commits.
        # Rows, _change_type and per-row _commit_version are identical
        # by construction.
        run: list[tuple[int, list[dict]]] = []
        run_sig = None

        def _flush_run() -> None:
            nonlocal run_sig
            if len(run) >= 2:
                steps.append(
                    self._grouped_append_step(table_name, list(run), run_sig)
                )
            elif run:
                step = self._changes_for_step(
                    table_name, run[0][0], include_preimages=include_preimages
                )
                if step is not None:
                    steps.append(step)
            run.clear()
            run_sig = None

        for v in range(from_version + 1, to + 1):
            grouped = self._cdf_groupable_append(table_name, v)
            if grouped is not None:
                sig, entries = grouped
                if run and (sig != run_sig or len(run) >= CDF_APPEND_RUN_MAX):
                    _flush_run()
                run.append((v, entries))
                run_sig = sig
                continue
            _flush_run()
            step = self._changes_for_step(
                table_name, v, include_preimages=include_preimages
            )
            if step is not None:
                steps.append(step)
        _flush_run()
        if not steps:
            base = self.read_version(table_name, to)
            return (
                base.withColumn("_change_type", F.lit(None).cast("string"))
                .withColumn("_commit_version", F.lit(None).cast("long"))
                .filter(F.lit(False))
            )
        out = steps[0]
        for s in steps[1:]:
            out = out.unionByName(s, allowMissingColumns=True)
        return out

    # Entry-level pruning in diff_snapshots (immutable dirs shared by
    # both endpoint manifests are skipped). False = always read both
    # full snapshots — the equality escape hatch.
    DIFF_ENTRY_PRUNE = True

    # Single-pass window formulation of the digest diff (one scan per
    # side, two exchanges). False = the historical 4-join formulation —
    # the equality escape hatch (test_change_feed's equivalence gate
    # runs both and compares).
    DIFF_SINGLE_PASS = True

    def _compose_diffs(
        self, d1: DataFrame, d2: DataFrame, pks: list[str]
    ) -> DataFrame:
        """Compose two CONSECUTIVE window diffs (d1: a→b, d2: b→c,
        both preimage-bearing) into the a→c collapse. Per key: the
        initial state comes from d1 (its delete/update_preimage rows;
        an insert means initially-absent), the final state from d2
        (insert/update_postimage; delete means finally-absent); keys
        touched by only one side pass through. Digest-equal
        initial/final pairs are suppressed — same contract as the
        direct collapse. This is what lets a window with a rewrite in
        the MIDDLE (DML on both sides of a compact — a lagging
        follower crossing a maintenance window) stay entry-pruned:
        each segment diffs against rewrite-free endpoints and the
        composition is joins over DIFF-sized frames, never the table."""
        ct = F.col("_change_type")
        data_cols = [
            c
            for c in d1.columns
            if c not in ("_change_type", "_commit_version")
        ]
        k1 = d1.select(*pks).distinct()
        k2 = d2.select(*pks).distinct()
        both = k1.join(k2, on=pks, how="left_semi")
        only1 = d1.join(k2, on=pks, how="left_anti")
        only2 = d2.join(k1, on=pks, how="left_anti")
        init = (
            d1.filter(ct.isin("delete", "update_preimage"))
            .join(both, on=pks, how="left_semi")
            .select(*data_cols)
        )
        fin = (
            d2.filter(ct.isin("insert", "update_postimage"))
            .join(both, on=pks, how="left_semi")
            .select(*data_cols)
        )
        ikeys = init.select(*pks).distinct()
        fkeys = fin.select(*pks).distinct()

        def _tag(df: DataFrame, change: str) -> DataFrame:
            return df.withColumn("_change_type", F.lit(change)).withColumn(
                "_commit_version", F.lit(0).cast("long")  # caller retags
            )

        inserts = _tag(fin.join(ikeys, on=pks, how="left_anti"), "insert")
        deletes = _tag(init.join(fkeys, on=pks, how="left_anti"), "delete")
        i_d = init.withColumn("__d", self._row_digest(init))
        f_d = fin.withColumn("__d", self._row_digest(fin))
        changed = (
            f_d.join(
                i_d.select(*pks, "__d").distinct(),
                on=[*pks, "__d"],
                how="left_anti",
            )
            .select(*pks)
            .distinct()
        )
        out = only1
        for part in (
            only2,
            inserts,
            deletes,
            _tag(
                fin.join(changed, on=pks, how="left_semi"),
                "update_postimage",
            ),
            _tag(
                init.join(changed, on=pks, how="left_semi"),
                "update_preimage",
            ),
        ):
            out = out.unionByName(part, allowMissingColumns=True)
        return out

    def _diff_via_segments(
        self,
        table_name: str,
        lo: int,
        hi: int,
        peelable: "set[int]",
        pks: list[str],
        *,
        any_ref: bool,
        include_preimages: bool,
        to: int,
    ) -> DataFrame | None:
        """Split a window at its interior row-preserving commits and
        compose the per-segment diffs (:meth:`_compose_diffs`). Each
        segment's endpoints are rewrite-free, so each segment diff is
        entry-pruned; the rewrite between segments contributes nothing
        by construction. None when any segment can't collapse — the
        caller falls back to the full read."""
        cuts = [lo]
        v = lo + 1
        while v <= hi:
            if v in peelable:
                run_start = v
                while v <= hi and v in peelable:
                    v += 1
                cuts.append(run_start - 1)
            else:
                v += 1
        cuts.append(hi)
        cuts = sorted(set(cuts))
        segs: list[DataFrame] = []
        for a, b in zip(cuts, cuts[1:]):
            d = self.diff_snapshots(
                table_name,
                a,
                b,
                pks,
                any_ref=any_ref,
                include_preimages=True,
            )
            if d is None:
                return None
            # a provably-changeless segment composes as identity:
            # drop it instead of paying its empty materialization
            if getattr(d, "_sg_provably_empty", False):
                continue
            # composition references each segment several times:
            # materialize once (diff-sized, not table-sized)
            segs.append(d.localCheckpoint())
        if not segs:
            # every segment changeless => the whole window is
            return self._empty_diff_frame(
                self._read_manifest(table_name, hi), to
            )
        out = segs[0]
        for d in segs[1:]:
            out = self._compose_diffs(out, d, pks)
        out = out.withColumn("_commit_version", F.lit(to).cast("long"))
        if not include_preimages:
            out = out.filter(F.col("_change_type") != "update_preimage")
        return out

    def _empty_diff_frame(self, man: dict | None, to: int) -> DataFrame | None:
        """Zero-row change set in :meth:`diff_snapshots`' output shape,
        schema drawn from ``man`` — the return value for windows PROVEN
        changeless (identical manifests, or rewrite-only commit chains)
        where ``None`` would wrongly send the caller to per-commit
        replay. ``None`` when ``man`` carries no schema source."""
        base = self._empty_df(man)
        if base is None:
            return None
        empty = self._apply_mapping(self._fill_added(base, man), man)
        if BUCKET_COL in empty.columns:
            empty = empty.drop(BUCKET_COL)
        out = empty.withColumn("_change_type", F.lit("insert")).withColumn(
            "_commit_version", F.lit(to).cast("long")
        )
        # Consumers (the index-sync engine, _diff_change_counts) use
        # this tag to skip materialization and scalar jobs outright —
        # a zero-row frame's eager localCheckpoint alone costs a full
        # scheduler round-trip, which is the whole tick cost of a
        # post-publish/post-compact catch-up.
        out._sg_provably_empty = True
        return out

    def diff_snapshots(
        self,
        table_name: str,
        from_version: int,
        to_version: int,
        primary_keys: list[str],
        *,
        any_ref: bool = False,
        include_preimages: bool = False,
    ) -> DataFrame | None:
        """Window-collapsed change set: the row-level difference between
        snapshot ``from_version`` and snapshot ``to_version`` as ONE
        diff — two snapshot scans and one join, however many commits
        separate the versions. This is the follower catch-up path:
        :meth:`read_changes` unions one diff-frame per commit, so a
        long-outage window of V versions builds (and runs) a plan
        linear in V even though the follower only applies the FINAL
        per-key state; the snapshot diff computes that final state
        directly, making catch-up cost O(data), not O(commits).

        Emits exactly one change per key: ``insert`` (key absent at
        ``from_version``), ``update_postimage`` (key present, user
        values changed — bookkeeping-only rewrites are
        digest-suppressed), or ``delete`` (key absent at
        ``to_version``); ``_commit_version`` is ``to_version`` for all
        rows. Intermediate states are deliberately invisible — this is
        NOT the CDF (use :meth:`read_changes` for per-commit
        granularity). ``include_preimages=True`` additionally emits
        one ``update_preimage`` row per updated key (its OLD values) —
        what the derived-index syncs retract from, straight off the
        pruned diff with zero extra source reads.

        Returns ``None`` when the collapse is unsafe and the caller
        must replay per-commit: a ``rename_column`` / ``drop_column``
        commit inside the window, column-mapping drift between the
        endpoints (e.g. a restore resurrecting an older mapping), or
        both endpoint snapshots empty (no schema source).
        ``any_ref`` relaxes the endpoint reads' ref-ownership check
        (see :meth:`read_version`) — for followers whose cursor points
        at a since-published branch commit. The op gate reads each
        intermediate commit's O(KB) JSON, never its data; the data
        read is ENTRY-PRUNED (r13): data dirs are immutable, so
        entries identical in both endpoint manifests cannot contribute
        diff rows and only the CHANGED entries' files are scanned —
        catch-up cost O(changed dirs), not O(table), the property that
        keeps follower/index-sync cadences viable at 100 TB (DV-bearing
        endpoints read full: per-manifest DV state can differ on a
        shared dir). ``DIFF_ENTRY_PRUNE = False`` forces the full
        endpoint read (equality escape hatch).

        REWRITE-TRANSPARENT (r14): row-preserving commits (compact /
        rebucket / z-order / metadata-only — ``_ROW_PRESERVING_OPS``)
        at either end of a single-ref window are peeled off before
        entry pruning, since the snapshot relation is identical across
        them by construction. A compaction between two sync cursors
        therefore no longer destroys entry overlap (it used to force a
        full-table digest anti-join that provably netted to nothing),
        and a window of ONLY such commits returns an empty diff with
        zero data I/O — the doctor's own compactions stop taxing every
        attached index's next sync tick.
        """
        if not primary_keys:
            raise ValueError("diff_snapshots requires primary_keys")
        to = to_version
        if from_version > to:
            raise ValueError(
                f"from_version {from_version} is after to_version {to}"
            )
        man_to = self._read_manifest(table_name, to)
        man_from = (
            self._read_manifest(table_name, from_version)
            if from_version >= 1
            else None
        )
        if man_from is not None and self._mapping_of(man_from) != self._mapping_of(
            man_to
        ):
            return None
        if man_from is not None and (
            (man_from.get("added_columns") or None)
            != (man_to.get("added_columns") or None)
        ):
            return None  # schema grew inside the window: per-commit replay
        cjs: dict[int, dict] = {}
        for v in range(from_version + 1, to + 1):
            cj = self._read_commit_json(table_name, v)
            cjs[v] = cj
            if cj.get("op") in ("rename_column", "drop_column", "add_column"):
                return None
        # Mirror read_version's visibility contract for both endpoints
        # up front (the pruned path below reads entries directly).
        for v_, man_ in ((to, man_to), (from_version, man_from)):
            if man_ is None:
                continue
            if any_ref:
                gid = man_.get("txn_group")
                if gid is not None and self._group_verdict(gid) != "commit":
                    self._require_visible(table_name, v_, man_)  # raises
            else:
                self._require_visible(table_name, v_, man_)
        # REWRITE-TRANSPARENT WINDOW SHRINK (r14): compact / rebucket /
        # z-order / metadata-only commits move bytes, never rows — the
        # snapshot relation is identical across them by construction
        # (the CDF already treats them as silent; this extends the same
        # proof to the collapse planner). Entry pruning keys on dir
        # identity, so a rewrite between the endpoints would otherwise
        # share ZERO entries and force a full O(table) digest anti-join
        # that provably nets to nothing — and the doctor PRESCRIBES
        # compactions, so at 100 TB every maintenance window would tax
        # every attached index's next sync tick. Peeling row-preserving
        # commits off both ends of the window restores entry overlap;
        # a window of ONLY such commits is a provably-empty diff with
        # zero data I/O. Guarded to single-ref windows (a foreign ref's
        # snapshot is a different relation, whatever its op) and to
        # commits outside pending/aborted txn groups; ``tag_v`` keeps
        # the caller-visible ``to`` so cursor semantics are unchanged.
        f_eff, t_eff = from_version, to
        man_from_eff, man_to_eff = man_from, man_to

        def _gverdict(v: int) -> str | None:
            gid = cjs[v].get("txn_group")
            return "commit" if gid is None else self._group_verdict(gid)

        if (
            man_from is not None
            and man_from.get("branch") == man_to.get("branch")
            and all(
                cjs[v].get("branch") == man_to.get("branch") for v in cjs
            )
            # an UNDECIDED txn-group prepare could still flip to commit
            # (rows appear) — no peeling near one; decided windows only
            and all(_gverdict(v) is not None for v in cjs)
        ):

            def _invisible(v: int) -> bool:
                # aborted prepare: occupies the slot, its rows never
                # became visible — snapshot unchanged, manifest GARBAGE
                # (the prepared state), so peel across it but never
                # land an endpoint's manifest read on it
                return _gverdict(v) == "abort"

            def _peelable(v: int) -> bool:
                return _invisible(v) or cjs[v].get("op") in _ROW_PRESERVING_OPS

            while t_eff > f_eff and _peelable(t_eff):
                t_eff -= 1
            f_man_v = from_version
            while f_eff < t_eff and _peelable(f_eff + 1):
                f_eff += 1
                if not _invisible(f_eff):
                    f_man_v = f_eff
            if t_eff == f_eff:
                empty = self._empty_diff_frame(man_to, to)
                if empty is not None:
                    return empty
                f_eff, t_eff = from_version, to  # no schema source
            elif any(_peelable(v) for v in range(f_eff + 2, t_eff)):
                # rewrite in the MIDDLE of the window (DML on both
                # sides — a lagging follower crossing a maintenance
                # window): split at the rewrites and compose the
                # per-segment entry-pruned diffs instead of degrading
                # to the full-table read
                seg = self._diff_via_segments(
                    table_name,
                    f_eff,
                    t_eff,
                    {v for v in cjs if _peelable(v)},
                    list(primary_keys),
                    any_ref=any_ref,
                    include_preimages=include_preimages,
                    to=to,
                )
                if seg is not None:
                    return seg
                if t_eff != to:
                    man_to_eff = self._read_manifest(table_name, t_eff)
                if f_man_v != from_version:
                    man_from_eff = self._read_manifest(table_name, f_man_v)
            else:
                if t_eff != to:
                    man_to_eff = self._read_manifest(table_name, t_eff)
                if f_man_v != from_version:
                    man_from_eff = self._read_manifest(table_name, f_man_v)

        def _snap(man: dict | None, version: int) -> DataFrame | None:
            if man is None or not man.get("entries"):
                return None
            return self.read_version(table_name, version, any_ref=any_ref)

        def _side(entries: list[dict], man: dict) -> DataFrame | None:
            if not entries:
                return None
            df = self._apply_mapping(
                self._entries_df(table_name, entries, dv_man=man), man
            )
            return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

        # ENTRY-LEVEL PRUNING: data dirs are immutable, so an entry
        # identical in BOTH manifests contributes identical rows to
        # both sides of the digest anti-join — zero diff rows, per
        # construction. Only CHANGED entries need reading, so catch-up
        # cost is O(changed dirs + their rows), not O(table): a merge
        # touching 1 of 512 buckets diffs ~2/512ths of a 100 TB table.
        # (PK-maintaining DML rewrites the dir holding a key's old row
        # — that is what makes the dir "changed" — so both versions of
        # every touched key live inside the unique sets.) Gated off
        # when either endpoint carries deletion vectors: DV state is
        # per-manifest and can differ on a SHARED dir, which would
        # make "identical entry" a lie.
        pruned = False
        new = old = None
        if (
            self.DIFF_ENTRY_PRUNE
            and man_from_eff is not None
            and man_from_eff.get("entries")
            and man_to_eff.get("entries")
            and not man_from_eff.get("delete_vectors")
            and not man_to_eff.get("delete_vectors")
        ):
            pruned = True

            def _ekey(e: dict) -> str:
                return json.dumps(e, sort_keys=True)

            def _core(e: dict) -> str:
                # entry identity MINUS bucket liveness: same dir, same
                # files — an incremental merge narrows `buckets` on the
                # carried entry instead of rewriting it
                return json.dumps(
                    {k: v for k, v in e.items() if k != "buckets"},
                    sort_keys=True,
                )

            common = {_ekey(e) for e in man_from_eff["entries"]} & {
                _ekey(e) for e in man_to_eff["entries"]
            }
            old_rest = [
                e for e in man_from_eff["entries"] if _ekey(e) not in common
            ]
            new_rest = [
                e for e in man_to_eff["entries"] if _ekey(e) not in common
            ]
            # Bucket-liveness refinement: a dir carried with NARROWED
            # liveness shares every live-in-both bucket's rows with the
            # other side (files immutable) — only the DIFFERING buckets
            # can hold diff rows, and _entries_df's per-file bucket
            # filter prunes to exactly those files.
            new_by_core: dict[str, list[dict]] = {}
            for e in new_rest:
                new_by_core.setdefault(_core(e), []).append(e)
            old_es: list[dict] = []
            new_es: list[dict] = []
            matched: set[int] = set()
            for e in old_rest:
                cand = new_by_core.get(_core(e)) or []
                if (
                    len(cand) == 1
                    and e.get("buckets") is not None
                    and cand[0].get("buckets") is not None
                ):
                    n_e = cand[0]
                    matched.add(id(n_e))
                    ob, nb = set(e["buckets"]), set(n_e["buckets"])
                    if ob - nb:
                        old_es.append({**e, "buckets": sorted(ob - nb)})
                    if nb - ob:
                        new_es.append({**n_e, "buckets": sorted(nb - ob)})
                else:
                    old_es.append(e)
            new_es += [e for e in new_rest if id(e) not in matched]
            old = _side(old_es, man_from_eff)
            new = _side(new_es, man_to_eff)
        if not pruned:
            new = _snap(man_to_eff, t_eff)
            old = _snap(man_from_eff, f_eff)
        tag_v = F.lit(to).cast("long")

        def _tag(df: DataFrame, change: str) -> DataFrame:
            return df.withColumn("_change_type", F.lit(change)).withColumn(
                "_commit_version", tag_v
            )

        if new is None and old is None:
            if pruned:
                # Manifests identical: PROVABLY no changes. Return an
                # empty diff (schema from the endpoint) — None would
                # wrongly send the caller to per-commit replay.
                empty = self._empty_diff_frame(man_to_eff, to)
                if empty is not None:
                    return empty
            return None  # nothing to diff AND no schema source
        if old is None:
            return _tag(new, "insert")
        if new is None:
            return _tag(old, "delete")
        pks = list(primary_keys)
        if self.DIFF_SINGLE_PASS:
            return self._diff_single_pass(
                new, old, pks, _tag, include_preimages=include_preimages
            )
        new_d = new.withColumn("__d", self._row_digest(new))
        old_d = old.withColumn("__d", self._row_digest(old))
        old_keys = old.select(*pks).distinct()
        changed = new_d.join(
            old_d.select(*pks, "__d").distinct(), on=[*pks, "__d"], how="left_anti"
        ).drop("__d")
        inserts = _tag(changed.join(old_keys, on=pks, how="left_anti"), "insert")
        updates = _tag(
            changed.join(old_keys, on=pks, how="left_semi"), "update_postimage"
        )
        deletes = _tag(
            old.join(new.select(*pks).distinct(), on=pks, how="left_anti"),
            "delete",
        )
        out = inserts.unionByName(
            updates, allowMissingColumns=True
        ).unionByName(deletes, allowMissingColumns=True)
        if include_preimages:
            update_keys = (
                changed.select(*pks)
                .distinct()
                .join(old_keys, on=pks, how="left_semi")
            )
            out = out.unionByName(
                _tag(
                    old.join(update_keys, on=pks, how="left_semi"),
                    "update_preimage",
                ),
                allowMissingColumns=True,
            )
        return out

    def _diff_single_pass(
        self,
        new: DataFrame,
        old: DataFrame,
        pks: list[str],
        _tag,
        *,
        include_preimages: bool,
    ) -> DataFrame:
        """The digest diff as ONE union + two window passes — exactly
        the rows the 4-join formulation emits, with one scan of each
        side and two exchanges instead of six-plus (guide §2.4: the
        five joins re-derived per-key facts the windows compute in
        place; sort-merge join and window both shuffle on the key, so
        the information per shuffle is identical).

        Per (key, digest): ``__o_cnt`` counts old rows — a new row
        with a zero count is "changed" (identical to the anti-join on
        (pks, digest)). Per key: old/new presence and
        has-a-changed-new-row drive the classification new rows →
        insert / update_postimage, old rows → delete (no new row for
        the key) / update_preimage (key has a changed new row).

        JOIN null semantics are preserved: the join formulation never
        matches NULL keys, while window partitioning groups them — so
        any row with a NULL key gets a per-row surrogate
        (``monotonically_increasing_id``) spliced into the window key,
        making it a singleton: changed + insert (new side) or delete
        (old side), exactly what never-matching joins produce. The
        surrogate value never reaches the output, so task-retry
        nondeterminism of the id cannot affect results."""
        side = F.col("__side")
        new_d = new.withColumn("__d", self._row_digest(new)).withColumn(
            "__side", F.lit(1)
        )
        old_d = old.withColumn("__d", self._row_digest(old)).withColumn(
            "__side", F.lit(0)
        )
        u = new_d.unionByName(old_d, allowMissingColumns=True)
        anynull = None
        for c in pks:
            n = F.col(c).isNull()
            anynull = n if anynull is None else (anynull | n)
        u = u.withColumn(
            "__nullk",
            F.when(anynull, F.monotonically_increasing_id()),
        )
        w_kd = Window.partitionBy(*pks, "__nullk", "__d")
        w_k = Window.partitionBy(*pks, "__nullk")
        o_cnt = F.sum((side == 0).cast("long")).over(w_kd)
        u = u.withColumn("__o_cnt", o_cnt)
        has_old = F.max((side == 0).cast("int")).over(w_k)
        has_new = F.max((side == 1).cast("int")).over(w_k)
        chg = F.max(
            ((side == 1) & (F.col("__o_cnt") == 0)).cast("int")
        ).over(w_k)
        u = (
            u.withColumn("__has_old", has_old)
            .withColumn("__has_new", has_new)
            .withColumn("__chg", chg)
        )
        ct = (
            F.when(
                (side == 1)
                & (F.col("__o_cnt") == 0)
                & (F.col("__has_old") == 1),
                F.lit("update_postimage"),
            )
            .when(
                (side == 1) & (F.col("__o_cnt") == 0), F.lit("insert")
            )
            .when(
                (side == 0) & (F.col("__has_new") == 0), F.lit("delete")
            )
        )
        if include_preimages:
            ct = ct.when(
                (side == 0) & (F.col("__chg") == 1),
                F.lit("update_preimage"),
            )
        u = u.withColumn("__ct", ct).filter(F.col("__ct").isNotNull())
        keep = [
            c
            for c in u.columns
            if c
            not in (
                "__d",
                "__side",
                "__nullk",
                "__o_cnt",
                "__has_old",
                "__has_new",
                "__chg",
                "__ct",
            )
        ]
        out = u.select(*keep, F.col("__ct"))
        # _tag stamps the window's _commit_version; the constant
        # change type it adds is overwritten with the per-row one
        tagged = _tag(out, "insert").withColumn(
            "_change_type", F.col("__ct")
        ).drop("__ct")
        return tagged

    def _step_invisible(self, table_name: str, v: int, man: dict) -> bool:
        """Whether commit ``v`` contributes nothing to THIS ref's
        change feed (aborted/undecided txn prepare, another ref's
        commit, a main commit past a branch view's fork base)."""
        gid = man.get("txn_group")
        if gid is not None and self._group_verdict(gid) != "commit":
            # Aborted (or still-undecided) multi-table-txn prepare: the
            # slot exists but its rows never became visible — no change.
            return True
        if self._branch is None:
            if man.get("branch") is not None:
                # Another ref's commit: its rows never became visible on
                # main (publish_branch is where branch work enters
                # main's change feed, classified against the fork point).
                return True
        elif man.get("branch") is None:
            # Untagged (main) commit on a branch view: at or below the
            # fork base the branch's history IS main's (mirror the
            # floor fallthrough in _visible_at_or_below); past it the
            # commit is another ref's.
            if v > self._branch_info(table_name)["base"]:
                return True
        elif not self._ref_match(table_name, man):
            return True  # another branch / dead incarnation
        return False

    def _cdf_groupable_append(
        self, table_name: str, v: int
    ) -> "tuple[tuple, list[dict]] | None":
        """``(signature, new_entries)`` when commit ``v`` is a plain
        visible append whose CDF step can fold into a multi-commit
        grouped scan; None sends the version to the per-commit path.
        Plain means: no deletion vectors in the snapshot, every new
        entry table-based (no clone ``base``), unbucketed, flat file
        names, with a recorded schema, and at least one data file.
        The signature (schema + mapping/added/dropped state) must be
        identical across a run — any drift splits it, because
        ``_apply_mapping``/``_fill_added`` are per-commit views."""
        try:
            man = self._read_manifest(table_name, v)
            if man.get("op") != "append" or man.get("delete_vectors"):
                return None
            if self._step_invisible(table_name, v, man):
                return None
            below = (
                self._visible_at_or_below(table_name, v - 1)
                if v > 1
                else None
            )
            prev_paths = {
                e["path"]
                for e in ((below[1] if below else {}) or {}).get("entries")
                or []
            }
            new_entries = [
                e
                for e in man.get("entries") or []
                if e["path"] not in prev_paths
            ]
            if not new_entries:
                return None
            n_files = 0
            schema_json = None
            for e in new_entries:
                if e.get("base") is not None or e.get("buckets") is not None:
                    return None
                files = e.get("files")
                sj = e.get("schema")
                if files is None or not sj:
                    return None
                if schema_json is None:
                    schema_json = sj
                elif sj != schema_json:
                    return None
                for f in files:
                    if f.get("bucket") is not None or "/" in f["path"]:
                        return None
                    n_files += 1
            if n_files == 0 or self._entry_schema(new_entries[0]) is None:
                return None
            sig = (
                schema_json,
                json.dumps(man.get("column_mapping") or {}, sort_keys=True),
                json.dumps(man.get("dropped_columns") or [], sort_keys=True),
                json.dumps(man.get("added_columns") or {}, sort_keys=True),
            )
            return sig, new_entries
        except Exception:
            return None  # any doubt: per-commit path, unchanged semantics

    def _grouped_append_step(
        self,
        table_name: str,
        run: "list[tuple[int, list[dict]]]",
        sig: tuple,
    ) -> DataFrame:
        """One scan over every file of a run of plain appends, with
        ``_commit_version`` recovered per row from the (unique) entry
        dir in ``_metadata.file_path`` — same rows, tags and column
        order as the per-commit append steps it replaces."""
        paths: list[str] = []
        ver_by_dir: dict[str, int] = {}
        tbl = self.table_path(table_name)
        for v, entries in run:
            for e in entries:
                ver_by_dir[e["path"]] = v
                for f in e["files"]:
                    paths.append(os.path.join(tbl, e["path"], f["path"]))
        last_man = self._read_manifest(table_name, run[-1][0])
        st = self._entry_schema(run[0][1][0])
        df = self.spark.read.schema(st).parquet(*paths)
        ver = F.element_at(
            F.create_map(
                *[
                    F.lit(x)
                    for kv in sorted(ver_by_dir.items())
                    for x in kv
                ]
            ),
            F.regexp_extract(
                F.col("_metadata.file_path"), r".*/([^/]+)/[^/]+$", 1
            ),
        )
        df = df.withColumn(
            "__sg_cv",
            F.when(ver.isNotNull(), ver.cast("long")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("grouped CDF append: unmapped file dir in "),
                        F.col("_metadata.file_path"),
                    )
                ).cast("long")
            ),
        )
        df = self._apply_mapping(self._fill_added(df, last_man), last_man)
        if BUCKET_COL in df.columns:
            df = df.drop(BUCKET_COL)
        data_cols = [c for c in df.columns if c != "__sg_cv"]
        return df.select(
            *data_cols,
            F.lit("insert").alias("_change_type"),
            F.col("__sg_cv").alias("_commit_version"),
        )

    def _changes_for_step(
        self, table_name: str, v: int, *, include_preimages: bool = False
    ) -> DataFrame | None:
        man = self._read_manifest(table_name, v)
        op = man.get("op")
        if op in (
            "compact",
            "rename_column",
            "drop_column",
            "set_check",
            "set_cluster_by",
            "add_column",
            "repair_metadata",
            "set_bloom_index",
        ):
            return None  # bytes or metadata moved; no row changes
        if self._step_invisible(table_name, v, man):
            return None
        # Diff against the nearest VISIBLE version below v: an aborted
        # prepare occupying v-1 was never this commit's logical parent
        # (writers always base on the visible head, so nearest-visible
        # -below IS the manifest this commit was computed from).
        prev = None
        if v > 1:
            below = self._visible_at_or_below(table_name, v - 1)
            prev = below[1] if below is not None else None
        prev_entries = (prev or {}).get("entries") or []
        prev_paths = {e["path"] for e in prev_entries}
        new_entries = [
            e for e in man.get("entries") or [] if e["path"] not in prev_paths
        ]

        def _tag(df: DataFrame, change: str) -> DataFrame:
            # Emit changes through the logical view AS OF this commit.
            df = self._apply_mapping(df, man)
            df = df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df
            return df.withColumn("_change_type", F.lit(change)).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )

        if op == "append":
            if not new_entries:
                return None
            return _tag(
                self._entries_df(table_name, new_entries, dv_man=man),
                "insert",
            )

        if op in ("replace", "restore"):
            # snapshot swap: prior rows out, the (restored) snapshot in
            # (both sides through their own snapshot's deletion vectors)
            inserts = _tag(self._read_manifest_df(table_name, man), "insert")
            if not prev_entries:
                return inserts
            deletes = _tag(
                self._entries_df(table_name, prev_entries, dv_man=prev),
                "delete",
            )
            return deletes.unionByName(inserts, allowMissingColumns=True)

        if op in ("delete", "update"):
            # delete: rows of the touched files minus the staged keeps.
            # update: staged rows minus the touched files' prior rows
            # (post-images; a no-op assignment emits nothing). Both are
            # value-determined per predicate, so the digest-only
            # anti-join is exact.
            touched = man.get("touched") or []
            if not touched:
                return None
            prev_dvs = (prev or {}).get("delete_vectors") or []
            cur_dvs = man.get("delete_vectors") or []
            # A merge-on-read delete leaves the ENTRIES untouched and
            # grows the DV set; a COW delete always rewrites entries
            # (and may merely PRUNE DVs — not a MoR step).
            mor_delete = (
                op == "delete"
                and cur_dvs != prev_dvs
                and (man.get("entries") or []) == prev_entries
            )
            # MoR UPDATE records itself (delete+append encoding): the
            # pre-images are the newly-DV'd positions of the touched
            # files, the post-images the appended entry's rows.
            mor_update = op == "update" and bool(man.get("mor"))
            by_dir: dict[str, list[str]] = {}
            for t_path in touched:
                d, _, rel = t_path.partition("/")
                by_dir.setdefault(d, []).append(rel)
            need_ids = mor_delete or mor_update or bool(prev_dvs)
            dir_entry = {e["path"]: e for e in prev_entries}
            old_parts = []
            for d, rels in by_dir.items():
                e = dir_entry.get(d)
                base = os.path.join(
                    self._entry_base(table_name, e or {}), d
                )
                old_parts.append(
                    self._read_entry(
                        base,
                        e,
                        [os.path.join(base, r) for r in rels],
                        man,
                        dv_cols=need_ids,
                    )
                )
            old_rows = old_parts[0]
            for p in old_parts[1:]:
                old_rows = old_rows.unionByName(p, allowMissingColumns=True)
            if mor_delete:
                # Merge-on-read delete: the rows removed at this step
                # are EXACTLY the positions this commit's DVs added —
                # semi-join the touched scan with (new minus prior) DV
                # positions. Exact through consolidation too (the
                # set difference is position-based, not sidecar-based).
                new_dv = self._dv_frame(table_name, cur_dvs)
                if prev_dvs:
                    prior = self._dv_frame(table_name, prev_dvs)
                    new_dv = new_dv.join(
                        prior, on=["file", "pos"], how="left_anti"
                    )
                deleted = old_rows.join(
                    new_dv,
                    (F.col("__dv_file") == new_dv["file"])
                    & (F.col("__dv_pos") == new_dv["pos"]),
                    "left_semi",
                ).drop("__dv_file", "__dv_pos")
                return _tag(deleted, "delete")
            if mor_update:
                if not new_entries:
                    return None
                new_dv = self._dv_frame(table_name, cur_dvs)
                if prev_dvs:
                    prior = self._dv_frame(table_name, prev_dvs)
                    new_dv = new_dv.join(
                        prior, on=["file", "pos"], how="left_anti"
                    )
                pre_rows = old_rows.join(
                    new_dv,
                    (F.col("__dv_file") == new_dv["file"])
                    & (F.col("__dv_pos") == new_dv["pos"]),
                    "left_semi",
                ).drop("__dv_file", "__dv_pos")
                post_rows = self._entries_df(
                    table_name, new_entries, dv_man=man
                )
                # Same symmetric digest discipline as the COW path: a
                # no-op assignment suppresses both sides.
                post_d = post_rows.withColumn(
                    "__d", self._row_digest(post_rows)
                )
                pre_d = pre_rows.withColumn(
                    "__d", self._row_digest(pre_rows)
                )
                out = _tag(
                    post_d.join(
                        pre_d.select("__d").distinct(),
                        on="__d",
                        how="left_anti",
                    ).drop("__d"),
                    "update_postimage",
                )
                if include_preimages:
                    pre = _tag(
                        pre_d.join(
                            post_d.select("__d").distinct(),
                            on="__d",
                            how="left_anti",
                        ).drop("__d"),
                        "update_preimage",
                    )
                    out = pre.unionByName(out, allowMissingColumns=True)
                return out
            if prev_dvs:
                # Rows a PRIOR MoR delete removed were already emitted
                # at that commit — exclude them from this step's diff.
                old_rows = self._anti_join_dvs(old_rows, table_name, prev_dvs)
            if op == "update":
                if not new_entries:
                    return None
                staged = self._entries_df(table_name, new_entries, dv_man=man)
                old_d = old_rows.select(
                    self._row_digest(old_rows).alias("__d")
                ).distinct()
                changed = (
                    staged.withColumn("__d", self._row_digest(staged))
                    .join(old_d, on="__d", how="left_anti")
                    .drop("__d")
                )
                post = _tag(changed, "update_postimage")
                if not include_preimages:
                    return post
                # Symmetric digest diff: the modified rows' PRIOR
                # values (a no-op assignment suppresses both sides).
                staged_d = staged.select(
                    self._row_digest(staged).alias("__d")
                ).distinct()
                pre = _tag(
                    old_rows.withColumn("__d", self._row_digest(old_rows))
                    .join(staged_d, on="__d", how="left_anti")
                    .drop("__d"),
                    "update_preimage",
                )
                return pre.unionByName(post, allowMissingColumns=True)
            keep_d = None
            if new_entries:
                keep_rows = self._entries_df(table_name, new_entries, dv_man=man)
                keep_d = keep_rows.select(
                    self._row_digest(keep_rows).alias("__d")
                ).distinct()
            old_d = old_rows.withColumn("__d", self._row_digest(old_rows))
            deleted = (
                old_d.join(keep_d, on="__d", how="left_anti")
                if keep_d is not None
                else old_d
            ).drop("__d")
            return _tag(deleted, "delete")

        if op == "merge":
            if not new_entries:
                return None
            new_rows = self._entries_df(table_name, new_entries, dv_man=man)
            if not prev_entries:
                return _tag(new_rows, "insert")
            full_rewrite = len(man.get("entries") or []) == len(new_entries)
            old_rows = self._entries_df(table_name, prev_entries, dv_man=prev)
            if not full_rewrite:
                touched: set[int] = set()
                for e in new_entries:
                    touched |= set(e.get("buckets") or [])
                if BUCKET_COL in old_rows.columns:
                    old_rows = old_rows.filter(
                        F.col(BUCKET_COL).isin(sorted(touched))
                    )
            new_d = new_rows.withColumn("__d", self._row_digest(new_rows))
            old_d = old_rows.withColumn("__d", self._row_digest(old_rows))
            # Pairing keys: the table's primary keys, else the merge
            # commit's own recorded keys (merge_into on an unbucketed
            # target records merge_keys for exactly this).
            pks = man.get("primary_keys") or man.get("merge_keys")
            if not pks:
                # Pre-CDF manifest: digest-only diff, unclassified.
                changed = new_d.join(
                    old_d.select("__d").distinct(), on="__d", how="left_anti"
                )
                return _tag(changed.drop("__d"), "upsert")
            old_keys = old_rows.select(*pks).distinct()
            changed = new_d.join(
                old_d.select(*pks, "__d").distinct(),
                on=[*pks, "__d"],
                how="left_anti",
            ).drop("__d")
            inserts = _tag(
                changed.join(old_keys, on=pks, how="left_anti"), "insert"
            )
            upd_post = changed.join(old_keys, on=pks, how="left_semi")
            updates = _tag(upd_post, "update_postimage")
            out = inserts.unionByName(updates, allowMissingColumns=True)
            # merge_into's when_matched_delete removes keys outright:
            # old keys absent from the new (touched) rows are deletes.
            # (Latest-wins upsert merges never delete — the anti-join
            # matches nothing and costs one pass over the diff frames.)
            deleted = _tag(
                old_rows.join(
                    new_rows.select(*pks).distinct(), on=pks, how="left_anti"
                ),
                "delete",
            )
            out = out.unionByName(deleted, allowMissingColumns=True)
            if include_preimages:
                # The replaced rows' PRIOR values, paired by primary
                # key with the emitted post-images.
                pre = _tag(
                    old_rows.join(
                        upd_post.select(*pks).distinct(),
                        on=pks,
                        how="left_semi",
                    ),
                    "update_preimage",
                )
                out = out.unionByName(pre, allowMissingColumns=True)
            return out

        if op == "publish_branch":
            # Fast-forward publish: ONE exact endpoint diff — the fork
            # base (= nearest visible-below, by the fast-forward check)
            # vs the published branch tip. Whatever mix of appends /
            # merges / deletes landed on the branch, the feed reports
            # only the NET row changes, classified on the recorded
            # keys; audit-rejected intermediate states never leak.
            new_rows = self._entries_df(
                table_name, man.get("entries") or [], dv_man=man
            )
            if not prev_entries:
                return _tag(new_rows, "insert")
            old_rows = self._entries_df(table_name, prev_entries, dv_man=prev)
            new_d = new_rows.withColumn("__d", self._row_digest(new_rows))
            old_d = old_rows.withColumn("__d", self._row_digest(old_rows))
            pks = man.get("primary_keys") or man.get("merge_keys")
            if not pks:
                changed = new_d.join(
                    old_d.select("__d").distinct(), on="__d", how="left_anti"
                )
                return _tag(changed.drop("__d"), "upsert")
            old_keys = old_rows.select(*pks).distinct()
            changed = new_d.join(
                old_d.select(*pks, "__d").distinct(),
                on=[*pks, "__d"],
                how="left_anti",
            ).drop("__d")
            inserts = _tag(
                changed.join(old_keys, on=pks, how="left_anti"), "insert"
            )
            upd_post = changed.join(old_keys, on=pks, how="left_semi")
            out = inserts.unionByName(
                _tag(upd_post, "update_postimage"), allowMissingColumns=True
            )
            deleted = _tag(
                old_rows.join(
                    new_rows.select(*pks).distinct(), on=pks, how="left_anti"
                ),
                "delete",
            )
            out = out.unionByName(deleted, allowMissingColumns=True)
            if include_preimages:
                pre = _tag(
                    old_rows.join(
                        upd_post.select(*pks).distinct(),
                        on=pks,
                        how="left_semi",
                    ),
                    "update_preimage",
                )
                out = out.unionByName(pre, allowMissingColumns=True)
            return out

        raise ValueError(
            f"cannot compute changes for unknown commit op {op!r} "
            f"(table {table_name!r}, version {v})"
        )

    def table_exists(self, table_name: str) -> bool:
        snap = self._latest_commit(table_name)
        return bool(snap and snap[1].get("entries"))

    def list_tables(self) -> list[str]:
        out = []
        for d in sorted(self.io.list_names(self.root)):
            if d.startswith("_tmp_"):
                continue
            if self.io.is_dir(os.path.join(self.root, d, self.COMMIT_DIR)):
                if self.table_exists(d):
                    out.append(d)
        return out

    def drop(self, table_name: str) -> None:
        self.io.delete_dir(self.table_path(table_name))
        self._invalidate_manifests(table_name)

    def _persisted_buckets(self, table_name: str) -> int | None:
        snap = self._latest_commit(table_name)
        if snap is None:
            return None
        n = snap[1].get("merge_buckets")
        return int(n) if n else None

    # -- write strategies ---------------------------------------------------

    def _prep_and_stage(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str] | None,
        snap: "tuple[int, dict] | None",
    ) -> dict:
        """Shared append preparation: schema-compat check, column
        alignment, CHECK enforcement, logical→physical rename, added-
        column materialization, bucket routing — then stage the data
        dir. Returns the staged entry. ``snap`` is the snapshot the
        prep validates against (the commit itself may rebase later;
        appends are position-independent)."""
        if isinstance(df, LocalRows):
            # Gate on the manifest itself, not its entry list: an
            # emptied table (every row deleted) still carries checks /
            # mapping state that must keep routing through the full
            # path.
            man = snap[1] if snap else None
            simple = primary_keys is None and self._local_stageable(df)
            if simple and man is not None:
                newest = _newest_schema(man)
                # The job-free path only for the plain case the
                # protocol tables actually are: no checks, no schema
                # machinery, no bucketing, no clustering, and a
                # (name, type)-matching recorded schema (nullability
                # is per-entry and irrelevant to the by-name union
                # read). Anything else materializes and takes the
                # full path below.
                same_schema = False
                if newest is not None:
                    from pyspark.sql.types import StructType

                    try:
                        old_st = StructType.fromJson(json.loads(newest))
                        new_st = df.struct(self.spark)
                        same_schema = [
                            (f.name, f.dataType) for f in old_st.fields
                        ] == [(f.name, f.dataType) for f in new_st.fields]
                    except Exception:
                        same_schema = False
                simple = (
                    not man.get("checks")
                    and not man.get("column_mapping")
                    and not man.get("dropped_columns")
                    and not man.get("added_columns")
                    # a ZERO-row append needs no range-sort: clustered
                    # tables accept the zero-file entry (the changeless
                    # sync window's cursor CAS)
                    and (not man.get("cluster_by") or not df.rows)
                    and not man.get("primary_keys")
                    and same_schema
                )
            if simple:
                return self._stage_local(df, table_name)
            df = df.to_df(self.spark)
        exists = bool(snap and snap[1].get("entries"))
        if exists:
            # ONE read-plan construction serves both the compat check
            # and the column alignment: building the union read of an
            # E-entry table is O(E) py4j round-trips, and this runs on
            # every append to an existing table.
            rd = self.read(table_name)
            self._check_schema_compat(
                df, table_name, existing=dict(rd.dtypes)
            )
            existing_cols = set(rd.columns)
            new_cols = [c for c in df.columns if c not in existing_cols]
            ordered = [c for c in df.columns if c in existing_cols] + new_cols
            df = df.select(*ordered)
            df = self._enforce_checks(df, snap[1])
            # Mapped tables: translate incoming logical names (and pk
            # names) back to the frozen physical names before staging.
            df = self._rename_incoming(df, snap[1])
            df = self._materialize_added(df, snap[1])
            if primary_keys:
                primary_keys = [
                    self._to_physical(snap[1], k) for k in primary_keys
                ]
            elif snap[1].get("primary_keys"):
                # KEYLESS appends to a key-recorded bucketed table
                # still route into the bucket layout (the manifest's
                # recorded keys are physical names). Without this, one
                # keyless append plants an unbucketed dir that every
                # later incremental merge must degrade around — and
                # before r14 the incremental carry silently DROPPED
                # such dirs (data loss, caught by
                # test_merge_keeps_unbucketed_rows).
                rec = [
                    k
                    for k in snap[1]["primary_keys"]
                    if k in set(df.columns)
                ]
                if len(rec) == len(snap[1]["primary_keys"]):
                    primary_keys = rec
            # Appends to a bucketed table hash with the TABLE's layout N
            # (recorded in the manifest), never the store config.
            n_buckets = snap[1].get("merge_buckets")
        else:
            n_buckets = self.merge_buckets
        df = self._with_bucket(df, primary_keys, n_buckets)
        # Write-time clustering (the liquid-clustering idea): a table
        # with a ``cluster_by`` property range-sorts EVERY append on
        # its cluster keys before staging — one extra shuffle per
        # append buys zone maps that stay selective without waiting
        # for a compaction (fresh files stamp ``sorted_by``, so index
        # coverage watermarks count them as clustered). The file count
        # follows the incoming partitioning: micro-batches stay one
        # file, bulk loads keep their parallelism.
        cluster = (snap[1].get("cluster_by") or None) if exists else None
        clustered = bool(cluster) and all(c in df.columns for c in cluster)
        if clustered:
            lead = [BUCKET_COL] if BUCKET_COL in df.columns else []
            keys = [F.col(c) for c in (*lead, *cluster)]
            # No explicit partition count: AQE's size-based coalescing
            # picks the output file count from the data's actual bytes,
            # so a sync-tick micro-append lands ONE well-formed sorted
            # file (not shuffle-partition-count shards of a few rows)
            # while a bulk load keeps its parallelism. Pinning the
            # incoming partition count here (the old behavior) was the
            # worst of both: tiny appends fanned into N tiny files —
            # N footer harvests, N files every later read opens — and
            # the count tracked local partitioning, not data size.
            df = df.repartitionByRange(*keys).sortWithinPartitions(
                *lead, *cluster
            )
        entry = self._stage(df, table_name)
        if clustered:
            entry["sorted_by"] = list(cluster)
        return entry

    def write_append(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str] | None = None,
        *,
        txn: tuple[str, int] | None = None,
        txn_group: str | None = None,
    ) -> dict | None:
        """Append a data dir and publish one commit. ``txn_group``
        marks the commit as a multi-table-txn PREPARE: it claims a
        version slot but stays INVISIBLE to every reader until the
        group's decision file says commit (:meth:`begin_txn` — callers
        use :class:`MultiTableTxn`, not this kwarg directly).
        ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT (Delta's
        ``SetTransaction`` action): the manifest's ``txns`` map records
        the highest batch_id committed per app, the watermark rides
        the SAME atomic conditional-PUT as the data, and an append
        whose batch_id is <= the recorded watermark is skipped without
        writing — upgrading a replayed streaming micro-batch
        (foreachBatch redelivers the last epoch after a crash) from
        at-least-once to EXACTLY-ONCE. The skip decision re-checks on
        every commit-race retry, so two racing writers of the same
        (app, batch) can never both land. Returns ``{"version",
        "skipped"}`` when ``txn`` is given (None otherwise, the
        historical signature).

        Contract for ``df.observe(...)`` callers: the staged write is
        the FIRST (and only) action this method executes on ``df`` —
        no validation count or pre-action runs ahead of it — so an
        attached Observation reflects exactly the staged rows (unless
        the txn watermark skips the write entirely, in which case the
        observation never populates and must not be read)."""
        if txn is not None:
            app_id, batch_id = txn
            pre = self._latest_commit(table_name)
            if (
                pre is not None
                and (pre[1].get("txns") or {}).get(app_id, -1) >= batch_id
            ):
                return {"version": pre[0], "skipped": True}
        snap = self._latest_commit(table_name)
        entry = self._prep_and_stage(df, table_name, primary_keys, snap)
        res = self._commit_staged_append(
            table_name,
            entry,
            txn=txn,
            txn_group=txn_group,
            primary_keys=primary_keys,
        )
        return res if txn is not None or txn_group is not None else None

    def _commit_staged_append(
        self,
        table_name: str,
        entry: dict,
        *,
        txn: tuple[str, int] | None = None,
        txn_group: str | None = None,
        primary_keys: list[str] | None = None,
    ) -> dict:
        """Publish one already-staged append entry (the fast, PUT-only
        half of :meth:`write_append`). MultiTableTxn stages every
        table FIRST and runs these back-to-back at commit time, so a
        group's slot-holding window is a few metadata PUTs — not the
        staging jobs (a coordinator staging table B while holding
        table A's slot is what contenders force-abort under load)."""
        for _attempt in range(self._COMMIT_RETRIES):
            snap2 = self._latest_commit(table_name)
            version = snap2[0] if snap2 else 0
            entries = list(snap2[1].get("entries") or []) if snap2 else []
            txns = dict((snap2[1].get("txns") or {})) if snap2 else {}
            if txn is not None:
                app_id, batch_id = txn
                if txns.get(app_id, -1) >= batch_id:
                    # A racer landed this exact (app, batch) — the
                    # staged dir is dead weight until vacuum, the
                    # batch is NOT duplicated.
                    return {"version": version, "skipped": True}
                txns[app_id] = batch_id
            mb = (
                snap2[1].get("merge_buckets")
                if snap2
                else (
                    self.merge_buckets
                    if entry["buckets"] is not None
                    else None
                )
            )
            manifest = {
                "op": "append",
                "merge_buckets": mb,
                # An append never changes an EXISTING merge identity:
                # restate the recorded keys (delta commits carry
                # top-level fields verbatim — omission would silently
                # drop them for merge_into/update guards/rebucket).
                # A table's FIRST append records the declared keys
                # (r13): the append already bucket-routes by them, and
                # without the record merge_into could never take the
                # incremental touched-buckets path — every merge was a
                # full table rewrite, the silent 100-TB killer.
                **(
                    {"primary_keys": snap2[1]["primary_keys"]}
                    if snap2 and snap2[1].get("primary_keys")
                    else (
                        {"primary_keys": list(primary_keys)}
                        if primary_keys
                        else {}
                    )
                ),
                "entries": entries + [entry],
                **(self._carry_mapping(snap2[1]) if snap2 else {}),
                **(self._carry_dv(snap2[1]) if snap2 else {}),
                **({"txns": txns} if txns else {}),
                **({"txn_group": txn_group} if txn_group else {}),
            }
            try:
                landed = self._commit(table_name, manifest, version + 1)
                return {"version": landed, "skipped": False}
            except ConcurrentCommitError:
                self._retry_pause(_attempt)
                continue  # appends are position-independent: rebase + retry
        raise ConcurrentCommitError(
            f"append to {table_name!r} lost {self._COMMIT_RETRIES} commit races"
        )

    def write_appends(
        self,
        dfs: "list[DataFrame]",
        table_name: str,
        primary_keys: list[str] | None = None,
        *,
        txns: "list[tuple[str, int] | None] | None" = None,
    ) -> dict:
        """GROUP COMMIT (append coalescing): stage each frame as its
        own data dir, then publish ONE commit referencing them all —
        N micro-batches cost one commit-protocol round (one
        conditional PUT, one manifest delta, one pointer bump) instead
        of N. This is the sync-cadence lever for commit-dominated
        lifecycles: at micro-batch sizes the ``store_*`` bench rows
        are mostly commit protocol, and a buffered destination can
        drain its queue through here without N× protocol cost.

        ``txns`` aligns one optional ``(app_id, batch_id)`` per frame:
        each batch keeps its OWN SetTransaction watermark inside the
        single commit, so exactly-once COMPOSES with coalescing —
        already-committed batches are skipped individually before
        staging, a commit race re-checks per batch (a racer landing
        one batch drops just that entry), and the change feed still
        sees each batch's rows (one entry per batch; insert
        classification is per entry, unchanged).

        Returns ``{"version", "appended", "skipped"}`` (batch counts).
        Reference: PyAirbyte buffers ~100k records before each flush
        (``airbyte/_batch_handles.py``, ``processor.py``); this is the
        same batching idea applied to the COMMIT protocol itself.
        """
        dfs = list(dfs)
        if not dfs:
            raise ValueError("write_appends needs at least one frame")
        txns_list = list(txns) if txns is not None else [None] * len(dfs)
        if len(txns_list) != len(dfs):
            raise ValueError("txns must align 1:1 with dfs")
        apps = [t[0] for t in txns_list if t is not None]
        if len(set(apps)) < len(apps):
            # Two batches of one app in one commit would collapse to a
            # single watermark — the lower batch could then replay.
            # Delta's SetTransaction has the same one-txn-per-app-per-
            # commit shape; callers chain commits for that.
            raise ValueError(
                "write_appends: one (app_id, batch_id) per app_id per "
                "group — chain separate calls for sequential batches "
                "of the same app"
            )
        snap = self._latest_commit(table_name)
        pre_txns = dict((snap[1].get("txns") or {})) if snap else {}
        staged: list[tuple[dict, tuple[str, int] | None]] = []
        skipped = 0
        for df, txn in zip(dfs, txns_list):
            if txn is not None and pre_txns.get(txn[0], -1) >= txn[1]:
                skipped += 1  # replayed batch: never even staged
                continue
            staged.append(
                (
                    self._prep_and_stage(df, table_name, primary_keys, snap),
                    txn,
                )
            )
        if not staged:
            return {
                "version": snap[0] if snap else 0,
                "appended": 0,
                "skipped": skipped,
            }
        for _attempt in range(self._COMMIT_RETRIES):
            snap2 = self._latest_commit(table_name)
            version = snap2[0] if snap2 else 0
            entries = list(snap2[1].get("entries") or []) if snap2 else []
            txmap = dict((snap2[1].get("txns") or {})) if snap2 else {}
            add: list[dict] = []
            dropped = 0
            for entry, txn in staged:
                if txn is not None:
                    if txmap.get(txn[0], -1) >= txn[1]:
                        # A racer landed this exact batch mid-group:
                        # its staged dir is dead weight until vacuum,
                        # the rows are NOT duplicated.
                        dropped += 1
                        continue
                    txmap[txn[0]] = txn[1]
                add.append(entry)
            if not add:
                return {
                    "version": version,
                    "appended": 0,
                    "skipped": skipped + dropped,
                }
            mb = (
                snap2[1].get("merge_buckets")
                if snap2
                else (
                    self.merge_buckets
                    if add[0]["buckets"] is not None
                    else None
                )
            )
            manifest = {
                "op": "append",
                "merge_buckets": mb,
                # first group-commit records the declared merge keys
                # (see _commit_staged_append) — later ones restate
                **(
                    {"primary_keys": snap2[1]["primary_keys"]}
                    if snap2 and snap2[1].get("primary_keys")
                    else (
                        {"primary_keys": list(primary_keys)}
                        if primary_keys
                        else {}
                    )
                ),
                "entries": entries + add,
                **(self._carry_mapping(snap2[1]) if snap2 else {}),
                **(self._carry_dv(snap2[1]) if snap2 else {}),
                **({"txns": txmap} if txmap else {}),
            }
            try:
                landed = self._commit(table_name, manifest, version + 1)
                return {
                    "version": landed,
                    "appended": len(add),
                    "skipped": skipped + dropped,
                }
            except ConcurrentCommitError:
                self._retry_pause(_attempt)
                continue  # appends are position-independent: rebase
        raise ConcurrentCommitError(
            f"group append to {table_name!r} lost "
            f"{self._COMMIT_RETRIES} commit races"
        )

    def write_replace(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str] | None = None,
        *,
        txn: tuple[str, int] | None = None,
        txn_group: str | None = None,
    ) -> dict | None:
        """Atomic snapshot REPLACE. ``txn=(app_id, batch_id)`` makes
        it idempotent like :meth:`write_append` (same SetTransaction
        contract; a replayed batch is skipped, returning
        ``{"version", "skipped"}``). ``txn_group`` marks the commit as
        a multi-table-txn PREPARE (invisible until the group decides;
        see :meth:`begin_txn`)."""
        if txn is not None:
            pre = self._latest_commit(table_name)
            if (
                pre is not None
                and (pre[1].get("txns") or {}).get(txn[0], -1) >= txn[1]
            ):
                return {"version": pre[0], "skipped": True}
        prior = self._latest_commit(table_name)
        # Replace swaps data (and resets any column mapping — incoming
        # frames carry logical names) but CHECK constraints and the
        # streaming txn watermarks are table properties and survive,
        # Delta-style.
        checks = (prior[1].get("checks") or {}) if prior else {}
        if isinstance(df, LocalRows) and (checks or primary_keys):
            df = df.to_df(self.spark)  # enforcement/bucketing need a frame
        if checks:
            df = self._enforce_checks(df, {"checks": checks})
        df = self._with_bucket(df, primary_keys)
        entry = self._stage(df, table_name)
        res = self._commit_staged_replace(
            table_name, entry, checks, txn=txn, txn_group=txn_group
        )
        return res if txn is not None or txn_group is not None else None

    def _commit_staged_replace(
        self,
        table_name: str,
        entry: dict,
        checks: dict,
        *,
        txn: tuple[str, int] | None = None,
        txn_group: str | None = None,
    ) -> dict:
        """The fast, PUT-only half of :meth:`write_replace` (see
        :meth:`_commit_staged_append` for why the split exists)."""
        base = {
            "op": "replace",
            **({"checks": checks} if checks else {}),
            "merge_buckets": (
                self.merge_buckets if entry["buckets"] is not None else None
            ),
            "entries": [entry],
        }
        for _attempt in range(self._COMMIT_RETRIES):
            snap = self._latest_commit(table_name)
            version = snap[0] if snap else 0
            # Re-read the watermarks EVERY attempt: a concurrent txn
            # append landing mid-race must not have its watermark
            # wiped by a replace built from the stale prior.
            txns = dict((snap[1].get("txns") or {})) if snap else {}
            if txn is not None:
                app_id, batch_id = txn
                if txns.get(app_id, -1) >= batch_id:
                    return {"version": version, "skipped": True}
                txns[app_id] = batch_id
            manifest = {
                **base,
                **({"txns": txns} if txns else {}),
                **({"txn_group": txn_group} if txn_group else {}),
            }
            try:
                landed = self._commit(table_name, manifest, version + 1)
                return {"version": landed, "skipped": False}
            except ConcurrentCommitError:
                self._retry_pause(_attempt)
                continue  # replace doesn't depend on the prior snapshot
        raise ConcurrentCommitError(
            f"replace of {table_name!r} lost {self._COMMIT_RETRIES} commit races"
        )

    def write_replace_clustered(
        self,
        df: DataFrame,
        table_name: str,
        *,
        cluster_by: list[str],
        target_files: int | None = None,
        primary_keys: list[str] | None = None,
    ) -> None:
        """Atomic snapshot REPLACE that lands ALREADY clustered: the
        ``write_replace → compact(sort_by=…) → set_cluster_by`` build
        idiom collapsed into one staged write and one commit. The old
        idiom wrote every byte twice (stage, then compaction rewrite)
        and burned three commit slots to reach exactly this state:
        range-partitioned files with disjoint key ranges (selective
        zone maps), a ``sorted_by`` stamp on the entry, and the
        table-level ``cluster_by`` property so later appends range-sort
        at staging and coverage watermarks hold at 1.0."""
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(f"cluster_by columns not in frame: {missing}")
        prior = self._latest_commit(table_name)
        checks = (prior[1].get("checks") or {}) if prior else {}
        if checks:
            df = self._enforce_checks(df, {"checks": checks})
        df = self._with_bucket(df, primary_keys)
        if BUCKET_COL in df.columns:
            keys = [F.col(BUCKET_COL), *[F.col(c) for c in cluster_by]]
            sort_cols = [BUCKET_COL, *cluster_by]
        else:
            keys = [F.col(c) for c in cluster_by]
            sort_cols = list(cluster_by)
        # Builds hand this an AGGREGATION-derived frame (postings /
        # bands / lists), and repartitionByRange's range-boundary
        # sampling re-executes its child — the whole derivation would
        # run twice (once to sample, once to write). One lazy local
        # checkpoint materializes it exactly once; the sampling pass
        # then reads cheap cached blocks. Spills to disk beyond
        # memory, so the trade holds at scale too.
        df = df.localCheckpoint(eager=False)
        # An explicit numPartitions pins zone-map granularity (and opts
        # the shuffle out of AQE coalescing) exactly like compact().
        if target_files:
            df = df.repartitionByRange(target_files, *keys)
        else:
            df = df.repartitionByRange(*keys)
        df = df.sortWithinPartitions(*sort_cols)
        entry = self._stage(df, table_name)
        entry["sorted_by"] = list(cluster_by)
        manifest = {
            "op": "replace",
            **({"checks": checks} if checks else {}),
            "merge_buckets": (
                self.merge_buckets if entry["buckets"] is not None else None
            ),
            "cluster_by": list(cluster_by),
            "entries": [entry],
        }
        for _attempt in range(self._COMMIT_RETRIES):
            snap = self._latest_commit(table_name)
            version = snap[0] if snap else 0
            txns = dict((snap[1].get("txns") or {})) if snap else {}
            try:
                self._commit(
                    table_name,
                    {**manifest, **({"txns": txns} if txns else {})},
                    version + 1,
                )
                return
            except ConcurrentCommitError:
                self._retry_pause(_attempt)
                continue
        raise ConcurrentCommitError(
            f"clustered replace of {table_name!r} lost "
            f"{self._COMMIT_RETRIES} commit races"
        )

    def write_merge(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str],
        *,
        txn: tuple[str, int] | None = None,
        txn_group: str | None = None,
    ) -> dict | None:
        """MERGE with optimistic-concurrency retry: losing a version
        race re-runs the whole attempt against the winner's snapshot
        (safe — the merge is deterministic latest-wins over
        old ∪ incoming, so a re-run converges; the loser's staged dir
        is dead weight until vacuum). Appends auto-rebase more cheaply
        (position-independent); DML uses read-set conflict detection
        (:meth:`_commit_dml`).

        ``txn=(app_id, batch_id)`` rides the same SetTransaction
        contract as :meth:`write_append`: the watermark commits
        atomically with the merged data, a replayed batch is skipped
        entirely, and the recorded watermark doubles as PROVENANCE —
        ``ChangeFeedFollower`` stamps each hop's destination commit
        with the source version it was built from, which is what
        cross-table snapshot pinning reads
        (``ChangeFeedFollower.consistent_snapshot``). Returns
        ``{"version", "skipped"}`` when ``txn`` is given (None
        otherwise, the historical signature).

        A lost race against a bucket-disjoint commit (ingest appends
        landing on other keys — the dominant contention shape) rebases
        the MANIFEST only: the staged rewrite is reused and the retry
        costs zero Spark jobs (:meth:`_build_merge_plan`). Overlapping
        or metadata-changing interlopers force a full re-plan."""
        plan = self._plan_merge(df, table_name, primary_keys, txn)
        if plan.get("skipped"):
            return {"version": plan["version"], "skipped": True}
        res = self._commit_planned(
            table_name,
            plan,
            lambda: self._plan_merge(df, table_name, primary_keys, txn),
            txn_group=txn_group,
        )
        return res if txn is not None or txn_group is not None else None

    def merge_into(
        self,
        table_name: str,
        source: DataFrame,
        on: list[str],
        *,
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: "str | bool" = False,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_update: dict[str, str] | None = None,
        when_not_matched_by_source_delete: "str | bool" = False,
        schema_evolution: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Clause-based MERGE (Delta's ``MERGE INTO`` subset): pair
        target rows with ``source`` on the key columns, then

        - matched + ``when_matched_delete`` (True, or a SQL predicate
          over ``t.*``/``s.*``) → drop the target row;
        - matched + ``when_matched_update`` (target col → SQL expr over
          ``t.*``/``s.*``) → rewrite it (delete clause wins when both
          fire, Delta's clause order);
        - source-only + ``when_not_matched_insert`` → insert the
          source row (schema-aligned by name);
        - target-only + ``when_not_matched_by_source_delete`` (True,
          or a predicate over ``t.*`` — source columns are NULL for
          these rows) → drop the target row;
        - target-only + ``when_not_matched_by_source_update`` (target
          col → SQL expr over ``t.*``) → rewrite it (delete wins when
          both fire, same clause order as the matched pair);
        - remaining target-only rows pass through untouched.

        The BY SOURCE clauses are Delta's full-sync idiom (``MERGE …
        WHEN NOT MATCHED BY SOURCE THEN DELETE`` makes the target
        exactly mirror the source). They touch target rows in EVERY
        bucket — absence from the source is a global property — so
        their presence forces the full-rewrite path, exactly as
        Delta's own planner falls back to a full-table scan.

        Richer than :meth:`write_merge`'s latest-wins upsert (which
        stays the streaming-sync path): this is the batch CDC-apply /
        dimension-maintenance verb. Source keys must be unique — a
        duplicate key would pair one target row with two clause
        outcomes (Delta raises the same error).

        ``schema_evolution=True`` is Delta's ``autoMerge``: source
        columns absent from the target are ADDED to the table schema
        in the same commit — inserted rows carry their source values,
        updated rows get them only when an update clause names them,
        and every pre-existing row reads NULL (composing with the
        metadata-``add_column`` semantics; untouched files are never
        rewritten, readers resolve the missing column to NULL). With
        the default ``False``, extra source columns are ignored —
        the projection is target-shaped, PyAirbyte's lenient-source
        posture (reference: auto-add-on-append,
        ``airbyte/shared/sql_processor.py:934-981``).

        Scale shape: when the table is bucketed and ``on`` equals its
        primary keys, only the SOURCE'S buckets are read and rewritten
        (file-targeted, DV-applied) and untouched buckets carry by
        reference — cost scales with the touched slice. Otherwise one
        full rewrite. One atomic commit either way (op="merge"; the
        change feed classifies insert/update/delete from the pairing).
        Returns ``{"inserted", "updated", "deleted", "version"}``
        (counts via ``observe`` — no extra jobs).
        """
        from pyspark.sql import Observation

        if not on:
            raise ValueError("merge_into requires key columns")
        if not (
            when_matched_update or when_matched_delete
            or when_not_matched_insert
            or when_not_matched_by_source_update
            or when_not_matched_by_source_delete
        ):
            raise ValueError("merge_into requires at least one clause")
        last: ConcurrentCommitError | None = None
        for _ in range(self._COMMIT_RETRIES):
            try:
                return self._merge_into_once(
                    table_name,
                    source,
                    on,
                    when_matched_update,
                    when_matched_delete,
                    when_not_matched_insert,
                    when_not_matched_by_source_update,
                    when_not_matched_by_source_delete,
                    schema_evolution,
                    txn,
                )
            except ConcurrentCommitError as e:
                last = e
                continue
        raise ConcurrentCommitError(
            f"merge_into {table_name!r} lost {self._COMMIT_RETRIES} races"
        ) from last

    def _merge_into_once(
        self,
        table_name: str,
        source: DataFrame,
        on: list[str],
        upd: dict | None,
        dele,
        ins: bool,
        bs_upd: dict | None = None,
        bs_dele=False,
        schema_evolution: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        from pyspark.sql import Observation

        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        txns = dict(man.get("txns") or {})
        if txn is not None:
            # SetTransaction idempotence (checked against the SAME
            # snapshot this attempt reads; a race re-runs and
            # re-checks): a replayed batch merges nothing twice.
            app_id, batch_id = txn
            if txns.get(app_id, -1) >= batch_id:
                return {
                    "inserted": 0,
                    "updated": 0,
                    "deleted": 0,
                    "version": version,
                    "skipped": True,
                }
            txns[app_id] = batch_id
        on_phys = [self._to_physical(man, c) for c in on]
        layout_n = man.get("merge_buckets")
        pks = man.get("primary_keys") or []
        mapping, _dropped = self._mapping_of(man)
        pk_logical = [mapping.get(pk, pk) for pk in pks]
        # BY SOURCE clauses touch target rows in every bucket (absence
        # from the source is a global property): full rewrite.
        incremental = (
            bool(layout_n)
            and sorted(on_phys) == sorted(pks)
            and not (bs_upd or bs_dele)
            # an UNBUCKETED dir can hold ANY key: the touched-buckets
            # carry has no liveness to narrow on it, so its rows must
            # flow through a full rewrite (which also heals the layout
            # — the rewrite re-buckets them). Before r14 such dirs
            # fell through the carry loop and were silently DROPPED.
            and all(
                e.get("buckets") is not None for e in man["entries"]
            )
        )
        dvs = man.get("delete_vectors") or []
        # The pairing runs in LOGICAL space (clause expressions see the
        # user-facing names, like update_where); physical renames and
        # bucket routing happen at the staging boundary.
        src = self._enforce_checks(source, man)
        # Duplicate source keys would pair ONE target row with TWO
        # clause outcomes (and duplicate it through the outer join) —
        # Delta raises the same way. The count rides the bucket/key
        # shuffle; assert_true fails the staging job, nothing commits.
        dup_w = Window.partitionBy(*[F.col(c) for c in on])
        src = src.withColumn(
            "__src_n", F.count(F.lit(1)).over(dup_w)
        ).filter(
            F.assert_true(
                F.col("__src_n") == 1,
                F.lit(
                    "MERGE_SOURCE_DUPLICATE: merge_into source has "
                    f"duplicate rows for key {on!r}"
                ),
            ).isNull()
        ).drop("__src_n")
        if layout_n:
            src = self._with_bucket(src, pk_logical or on, layout_n)
        keep_entries: list[dict] = []
        rewritten: list[str] = []
        if incremental:
            # src feeds the bucket discovery AND the merge join's
            # source side — without this the dup-check window (and its
            # exchange) re-executes for each; one lazy materialization
            # (spills to disk past memory) serves both (A/B r14:
            # store_merge_into_events 2.56s vs 2.77s, others neutral)
            src = src.localCheckpoint(eager=False)
            # collect_set rides ONE partial+final aggregation (the
            # distinct().collect() it replaces shuffled the same bytes
            # but cost an extra job per merge in the AQE plan; and
            # .collect(), not .first() — first() is a staged LIMIT
            # probe that launches extra jobs on a 1-row aggregate)
            touched = sorted(
                src.agg(F.collect_set(BUCKET_COL)).collect()[0][0]
            )
            touched_set = set(touched)
            for e in man["entries"]:
                remaining = [
                    b for b in (e.get("buckets") or []) if b not in touched_set
                ]
                if remaining:
                    keep_entries.append({**e, "buckets": remaining})
            old, rewritten = self._read_buckets(
                table_name, man, touched_set, dvs
            )
            if old is not None:
                old = self._apply_mapping(old, man)
        else:
            old = self._apply_mapping(
                self._read_manifest_df(table_name, man), man
            )
        obs = Observation()
        if old is None:
            merged = src if ins else src.filter(F.lit(False))
            merged = merged.observe(
                obs,
                F.count(F.lit(1)).alias("n_ins"),
                F.count(F.lit(1)).alias("n_upd"),
                F.count(F.lit(1)).alias("n_del"),
            )
            n_over = (1, 0, 0)  # only inserts are real in this branch
        else:
            n_over = None
            # NULL join keys never match (SQL semantics): presence is
            # decided by constant markers, not the key columns.
            t = old.withColumn("__t", F.lit(1)).alias("t")
            s = src.withColumn("__s", F.lit(1)).alias("s")
            cond = None
            for c in on:
                eq = F.col(f"t.{c}") == F.col(f"s.{c}")
                cond = eq if cond is None else (cond & eq)
            j = t.join(s, cond, "full_outer")
            matched = (
                F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
            )
            def _cond(spec):
                return (
                    F.lit(False)
                    if spec is False
                    else (F.lit(True) if spec is True else F.expr(spec))
                )

            del_cond = _cond(dele)
            bs_del_cond = _cond(bs_dele)
            target_only = (
                F.col("t.__t").isNotNull() & F.col("s.__s").isNull()
            )
            # action B = NOT MATCHED BY SOURCE update (t.* only; the
            # joined source columns are NULL for these rows).
            action = (
                F.when(matched & F.coalesce(del_cond, F.lit(False)), F.lit("D"))
                .when(matched, F.lit("U") if upd else F.lit("K"))
                .when(
                    target_only & F.coalesce(bs_del_cond, F.lit(False)),
                    F.lit("D"),
                )
                .when(target_only, F.lit("B") if bs_upd else F.lit("K"))
                .otherwise(F.lit("I") if ins else F.lit("X"))
            )
            j = j.withColumn("__action", action)
            out_cols = [c for c in old.columns if c != "__t"]
            proj = []
            for c in out_cols:
                s_val = (
                    F.col(f"s.{c}") if c in src.columns else F.lit(None)
                )
                expr = F.when(F.col("__action") == "I", s_val)
                if upd and c in upd:
                    expr = expr.when(
                        F.col("__action") == "U", F.expr(upd[c])
                    )
                if bs_upd and c in bs_upd:
                    expr = expr.when(
                        F.col("__action") == "B", F.expr(bs_upd[c])
                    )
                proj.append(expr.otherwise(F.col(f"t.{c}")).alias(c))
            if schema_evolution:
                # Delta autoMerge: source-only columns join the
                # schema. Inserts carry source values; updates only
                # when a clause names the column; every pre-existing
                # row is NULL (add_column semantics — untouched files
                # are never rewritten, readers resolve the gap).
                skip = set(out_cols) | {"__s"}
                for c in [c for c in src.columns if c not in skip]:
                    styp = src.schema[c].dataType
                    expr = F.when(
                        F.col("__action") == "I", F.col(f"s.{c}")
                    )
                    if upd and c in upd:
                        expr = expr.when(
                            F.col("__action") == "U", F.expr(upd[c])
                        )
                    if bs_upd and c in bs_upd:
                        expr = expr.when(
                            F.col("__action") == "B", F.expr(bs_upd[c])
                        )
                    proj.append(
                        expr.otherwise(F.lit(None).cast(styp)).alias(c)
                    )
            merged = (
                j.observe(
                    obs,
                    F.sum((F.col("__action") == "I").cast("long")).alias(
                        "n_ins"
                    ),
                    F.sum(
                        F.col("__action").isin("U", "B").cast("long")
                    ).alias("n_upd"),
                    F.sum((F.col("__action") == "D").cast("long")).alias(
                        "n_del"
                    ),
                )
                .filter(~F.col("__action").isin("D", "X"))
                .select(*proj)
            )
        if layout_n and pk_logical:
            # Heal the layout on rewrite: rows read out of legacy
            # UNBUCKETED dirs arrive with a NULL bucket — re-hash them
            # so the staged output is fully bucketed and the next
            # merge takes the incremental path again.
            merged = merged.withColumn(
                BUCKET_COL,
                F.coalesce(
                    F.col(BUCKET_COL)
                    if BUCKET_COL in merged.columns
                    else F.lit(None).cast("int"),
                    self._bucket_expr(pk_logical, layout_n),
                ),
            )
        entry = self._stage(
            self._materialize_added(
                self._rename_incoming(merged, man), man
            ),
            table_name,
        )
        if entry["files"]:
            keep_entries = [*keep_entries, entry]
        new_dvs, _ = self._prune_dvs(table_name, man, rewritten)
        landed = self._commit(
            table_name,
            {
                "op": "merge",
                "merge_buckets": layout_n,
                **({"primary_keys": pks} if pks else {}),
                # CDF pairing keys for THIS commit: lets the change
                # feed classify insert/update/delete even when the
                # table has no persisted primary keys (unbucketed
                # targets) — without them the classifier would fall
                # back to the unpaired digest diff and miss deletes.
                **({"merge_keys": on_phys} if not pks else {}),
                "entries": keep_entries,
                **self._carry_mapping(man),
                **({"txns": txns} if txns else {}),
                **({"delete_vectors": new_dvs} if new_dvs else {}),
            },
            version + 1,
        )
        got = obs.get
        if n_over is not None:
            return {
                "inserted": int(got["n_ins"] or 0) * n_over[0],
                "updated": 0,
                "deleted": 0,
                "version": landed,
            }
        return {
            "inserted": int(got["n_ins"] or 0),
            "updated": int(got["n_upd"] or 0),
            "deleted": int(got["n_del"] or 0),
            "version": landed,
        }

    def _plan_merge(
        self,
        df: DataFrame,
        table_name: str,
        primary_keys: list[str],
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """The EXPENSIVE half of a merge: read the touched buckets,
        compute latest-wins, stage the rewrite dir, and build the
        manifest — WITHOUT claiming a commit slot. Returns
        ``{"base_version", "manifest"}`` (or ``{"skipped": True,
        "version"}`` when the txn watermark says the batch already
        landed). The plan is valid only against the snapshot it read:
        committing it at ``base_version + 1`` either lands atomically
        or collides (``ConcurrentCommitError``) and must be re-planned.
        This split is what lets :class:`MultiTableTxn` hold commit
        slots for metadata PUTs only — the staging Spark jobs all run
        before any slot is claimed (same stage-then-claim shape as
        ``_commit_staged_append``)."""
        if not primary_keys:
            raise ValueError("merge requires primary keys")
        snap = self._latest_commit(table_name)
        exists = bool(snap and snap[1].get("entries"))
        txns = dict(snap[1].get("txns") or {}) if snap else {}
        if txn is not None:
            app_id, batch_id = txn
            # Checked against the snapshot THIS attempt reads; a race
            # re-runs and re-checks, so two racers of one (app, batch)
            # can never both land.
            if txns.get(app_id, -1) >= batch_id:
                return {"version": snap[0], "skipped": True}
            txns[app_id] = batch_id
        layout_n = snap[1].get("merge_buckets") if exists else None
        if exists and layout_n:
            # File-pruned incremental merge: stage only the touched
            # buckets, shrink old entries' live-bucket sets, publish one
            # commit. Untouched bucket data is neither read nor
            # rewritten — and unlike the parquet store's dynamic
            # partition overwrite, the flip is ATOMIC across buckets.
            version, man = snap
            # Incremental merges stage only touched buckets — a
            # cross-family type change would leave mixed-type files.
            self._check_schema_compat(df, table_name)
            df = self._enforce_checks(df, man)
            df = self._rename_incoming(df, man)
            # New-bucket-only merges stage incoming alone — added
            # columns must be explicit NULLs, not fill-time defaults.
            df = self._materialize_added(df, man)
            primary_keys = [self._to_physical(man, k) for k in primary_keys]
            incoming = self._with_bucket(df, primary_keys, layout_n)
            # one partial+final aggregation, not distinct().collect()
            # (same bytes shuffled, one less AQE job — see merge_into)
            touched = sorted(
                incoming.agg(F.collect_set(BUCKET_COL)).collect()[0][0]
            )
            touched_set = set(touched)
            dvs = man.get("delete_vectors") or []
            union = incoming
            olds, rewritten = self._read_buckets(
                table_name, man, touched_set, dvs
            )
            if olds is not None:
                union = union.unionByName(olds, allowMissingColumns=True)
            latest = self._dedup_latest(union, primary_keys)
            entry = self._stage(latest, table_name)
            merge_dvs, _ = self._prune_dvs(table_name, man, rewritten)
            return self._build_merge_plan(
                table_name,
                version,
                man,
                touched_set,
                entry,
                layout_n,
                list(primary_keys),
                txn,
                merge_dvs,
                txns,
            )
        # Full rewrite (first write, unbucketed table, or the one-time
        # migration INTO the bucketed layout) — also compacts the
        # manifest down to a single entry. (No rebase path: a full
        # rewrite consumes every bucket, so any concurrent commit
        # invalidates it — replan.)
        incoming = self._enforce_checks(df, snap[1]) if exists else df
        if exists:
            incoming = self.read(table_name).unionByName(
                incoming, allowMissingColumns=True
            )
        latest = self._dedup_latest(incoming, primary_keys)
        latest = self._with_bucket(latest, primary_keys)
        entry = self._stage(latest, table_name)
        version = snap[0] if snap else 0
        return {
            "base_version": version,
            "manifest": {
                "op": "merge",
                "merge_buckets": (
                    self.merge_buckets if entry["buckets"] is not None else None
                ),
                "primary_keys": list(primary_keys),
                # full rewrite materializes the logical view (mapping
                # resets) but CHECK constraints and txn watermarks
                # survive
                **(
                    {"checks": snap[1]["checks"]}
                    if exists and snap[1].get("checks")
                    else {}
                ),
                **({"txns": txns} if txns else {}),
                "entries": [entry],
            },
        }

    def _build_merge_plan(
        self,
        table_name: str,
        version: int,
        man: dict,
        touched_set: set,
        staged_entry: dict,
        layout_n,
        primary_keys: list[str],
        txn: "tuple[str, int] | None",
        merge_dvs,
        txns: dict,
    ) -> dict:
        """Assemble an incremental merge's manifest against ``man``
        (base snapshot at ``version``) from its already-staged rewrite
        — shrink overlapping entries' live-bucket sets, append the
        staged entry, restate metadata. Also attaches the plan's
        ``rebase`` closure: on a commit-slot collision, if every
        interloper commit merely ADDED entries whose buckets are
        disjoint from ``touched_set`` (the dominant contention shape —
        ingest appends racing a merge on other keys) and changed no
        table metadata, the staged rewrite is still exact and only
        this manifest needs rebuilding — no Spark jobs. Anything else
        (compaction, DV change, overlapping append, schema/mapping
        move) returns None and the caller re-plans in full."""
        new_entries = []
        for e in man["entries"]:
            remaining = [
                b for b in (e.get("buckets") or []) if b not in touched_set
            ]
            if remaining:
                # Carry the WHOLE entry (esp. its file list — after a
                # delete the list is authoritative; rebuilding the
                # entry bare would fall back to a directory read and
                # resurrect deleted files).
                new_entries.append({**e, "buckets": remaining})
        new_entries.append(staged_entry)

        def rebase() -> dict | None:
            snap2 = self._latest_commit(table_name)
            if snap2 is None:
                return None
            v2, m2 = snap2
            if v2 <= version:
                return None  # collision was an undecided head: replan
            # table metadata must be untouched — the staged rewrite
            # baked the base's mapping/checks/DVs/layout into its rows
            for k in (
                "merge_buckets",
                "column_mapping",
                "dropped_columns",
                "checks",
                "added_columns",
                "bloom_index",
                "delete_vectors",
                "primary_keys",
            ):
                if man.get(k) != m2.get(k):
                    return None
            base_by_path = {e["path"]: e for e in man["entries"]}
            for e in m2.get("entries") or []:
                b = base_by_path.pop(e["path"], None)
                if b is None:
                    bl = e.get("buckets")
                    if bl is None or set(bl) & touched_set:
                        return None  # overlaps the rewrite: stale
                elif b != e:
                    return None  # entry modified (compact/merge raced)
            if base_by_path:
                return None  # entries removed: a rewrite landed
            txns2 = dict(m2.get("txns") or {})
            if txn is not None:
                app_id, batch_id = txn
                if txns2.get(app_id, -1) >= batch_id:
                    return {"skipped": True, "version": v2}
                txns2[app_id] = batch_id
            return self._build_merge_plan(
                table_name,
                v2,
                m2,
                touched_set,
                staged_entry,
                layout_n,
                primary_keys,
                txn,
                merge_dvs,
                txns2,
            )

        return {
            "base_version": version,
            "rebase": rebase,
            "manifest": {
                "op": "merge",
                "merge_buckets": layout_n,
                "primary_keys": primary_keys,
                "entries": new_entries,
                **self._carry_mapping(man),
                # txn watermark (incl. this batch's) rides the
                # same atomic commit; _carry_mapping restated the
                # PRIOR map, so override after it.
                **({"txns": txns} if txns else {}),
                # DVs survive only for untouched carried files;
                # positions in rewritten buckets retire with them.
                **({"delete_vectors": merge_dvs} if merge_dvs else {}),
            },
        }

    def _commit_planned(
        self,
        table_name: str,
        plan: dict,
        replan,
        *,
        txn_group: str | None = None,
    ) -> dict:
        """Publish an already-planned snapshot-specific write (the
        fast, PUT-only half of merge / rebucket / metadata verbs). A
        commit-slot collision means the plan's base snapshot is stale,
        so unlike appends the rebase must RE-PLAN via the supplied
        callable (re-running whatever jobs the verb needs against the
        winner's snapshot) — but the collision only happens when
        another writer landed during the PUT-only window, so under a
        :class:`MultiTableTxn` the common case claims the slot in
        milliseconds. ``replan()`` may return ``{"skipped": True,
        "version"}`` to signal there is nothing left to commit. A plan
        carrying a ``rebase`` closure gets it tried FIRST on each
        collision: when the interloper provably didn't invalidate the
        staged rewrite (bucket-disjoint appends — see
        :meth:`_build_merge_plan`), the rebase rebuilds only the
        manifest and the retry costs zero Spark jobs."""
        for _attempt in range(self._COMMIT_RETRIES):
            try:
                landed = self._commit(
                    table_name,
                    {
                        **plan["manifest"],
                        **({"txn_group": txn_group} if txn_group else {}),
                    },
                    plan["base_version"] + 1,
                )
                return {"version": landed, "skipped": False}
            except ConcurrentCommitError:
                self._retry_pause(_attempt)
                reb = plan.get("rebase")
                plan = (reb() if reb is not None else None) or replan()
                if plan.get("skipped"):
                    return {"version": plan.get("version"), "skipped": True}
        raise ConcurrentCommitError(
            f"planned commit to {table_name!r} lost "
            f"{self._COMMIT_RETRIES} commit races"
        )

    def delete_where(
        self,
        table_name: str,
        predicates: list[tuple],
        *,
        mode: str = "cow",
    ) -> dict:
        """File-pruned DELETE, publish one atomic commit (op="delete")
        — Delta's ``DELETE FROM … WHERE`` for the commit-log store,
        the GDPR/retention primitive a plain parquet directory cannot
        do safely. Two physical strategies:

        - ``mode="cow"`` (copy-on-write, the default): rewrite the
          files whose zone maps admit a match, minus the matching
          rows. Cost scales with the matching files' FULL row width.
        - ``mode="mor"`` (merge-on-read): leave every data file in
          place; record the doomed rows' (file, position) pairs in a
          deletion-vector sidecar (Iceberg v2 position deletes, built
          on Spark's ``_metadata.file_path`` / ``row_index``). The
          write scans only the PREDICATE columns of the touched files
          and writes KBs — the right strategy when matched files are
          large and the deleted fraction is small (the 100 TB
          point-delete). Readers apply DVs as a broadcast anti-join;
          ``compact()`` materializes and clears them, and vacuum
          reclaims superseded sidecars.

        Predicate semantics are SQL DELETE either way: rows where the
        predicate is TRUE go; FALSE and NULL stay. Untouched files are
        carried by reference (the manifest's file list is
        authoritative; `_entries_df` never re-lists directories).
        Time travel to pre-delete versions keeps working until vacuum.

        Returns ``{"deleted_rows", "files_rewritten", "version"}``
        (for MoR, ``files_rewritten`` is 0 and the exact
        ``deleted_rows`` comes from the staged sidecar's footers).
        """
        from pyairbyte_spark.filestats import (
            dnf_to_column,
            file_may_match_dnf,
            normalize_dnf,
        )

        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown delete mode {mode!r}: use cow or mor")
        preds = normalize_dnf(predicates)
        if not preds:
            raise ValueError(
                "delete_where requires predicates; use drop() to remove a table"
            )
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        preds = self._physical_dnf(man, preds)
        if any(e.get("files") is None for e in man["entries"]):
            raise ValueError(
                "delete_where needs per-file stats in the manifest; run "
                "compact() once to migrate this pre-stats table"
            )
        prior_dvs = man.get("delete_vectors") or []
        keep_entries: list[dict] = []
        touched_paths: list[str] = []
        touched_rows = 0
        parts: list[DataFrame] = []
        # MoR (and a COW delete over a table that HAS prior DVs) must
        # know each scanned row's (file, pos) identity.
        need_dv_cols = mode == "mor" or bool(prior_dvs)
        for e in man["entries"]:
            live = e.get("buckets")
            kept_files: list[dict] = []
            touched_files: list[dict] = []
            for f in e["files"]:
                dead = not _file_live(live, f)
                if not dead and file_may_match_dnf(f, preds):
                    touched_files.append(f)
                else:
                    kept_files.append(f)
            if touched_files:
                base = os.path.join(self._entry_base(table_name, e), e["path"])
                parts.append(
                    self._read_entry(
                        base,
                        e,
                        [os.path.join(base, f["path"]) for f in touched_files],
                        man,
                        dv_cols=need_dv_cols,
                    )
                )
                touched_paths.extend(
                    f'{e["path"]}/{f["path"]}' for f in touched_files
                )
                touched_rows += sum(f.get("rows") or 0 for f in touched_files)
            if kept_files:
                # A shrunk file list leaves superseded files in the
                # (immutable-until-vacuum) dir: flag the entry so the
                # distributed scan never collapses it to a whole-dir
                # read (the list, not the dir, is authoritative).
                keep_entries.append(
                    {**e, "files": kept_files}
                    if not touched_files
                    else {**e, "files": kept_files, "pruned": True}
                )
        if not parts:
            return {
                "deleted_rows": 0,
                "files_rewritten": 0,
                "version": version,
            }
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p, allowMissingColumns=True)
        cond = dnf_to_column(preds)
        if mode == "mor":
            if prior_dvs:
                # Already-deleted positions must not re-enter the new
                # DV (exact deleted_rows; idempotent re-deletes).
                doomed_src = self._anti_join_dvs(
                    union, table_name, prior_dvs, keep_cols=True
                )
            else:
                doomed_src = union
            doomed = doomed_src.filter(F.coalesce(cond, F.lit(False))).select(
                F.col("__dv_file").alias("file"),
                F.col("__dv_pos").alias("pos"),
            )
            dv_entry = self._stage_dv(doomed, table_name)
            if dv_entry["rows"] == 0:
                self.io.delete_dir(
                    os.path.join(self.table_path(table_name), dv_entry["path"])
                )
                return {
                    "deleted_rows": 0,
                    "files_rewritten": 0,
                    "version": version,
                }
            new_dvs = [*prior_dvs, dv_entry]
            if len(new_dvs) > self._DV_CONSOLIDATE_AT:
                merged = self._stage_dv(
                    self._dv_frame(table_name, new_dvs), table_name
                )
                new_dvs = [merged]
            new_version = self._commit_dml(
                table_name,
                {
                    "op": "delete",
                    "merge_buckets": man.get("merge_buckets"),
                    **self._carry_mapping(man),
                    **(
                        {"primary_keys": man["primary_keys"]}
                        if man.get("primary_keys")
                        else {}
                    ),
                    "entries": man["entries"],
                    "touched": touched_paths,
                    "delete_vectors": new_dvs,
                },
                version + 1,
                base_entries=man["entries"],
                preds=preds,
                base_dvs=prior_dvs,
            )
            return {
                "deleted_rows": dv_entry["rows"],
                "files_rewritten": 0,
                "version": new_version,
            }
        if prior_dvs:
            # Rewriting a file retires its DV entries; applying them
            # here keeps MoR-deleted rows from resurrecting in the
            # rewritten keeps.
            union = self._anti_join_dvs(union, table_name, prior_dvs)
        keep_df = union.filter(~F.coalesce(cond, F.lit(False)))
        entry = self._stage(keep_df, table_name)
        staged_rows = sum(f.get("rows") or 0 for f in entry["files"])
        if entry["files"]:
            keep_entries.append(entry)
        # Rewriting the touched files retires their DV positions
        # (already applied to the keeps above); the pruned count also
        # keeps deleted_rows honest — those rows were deleted by the
        # EARLIER MoR commits, not this one.
        new_dvs, pruned = self._prune_dvs(table_name, man, touched_paths)
        touched_rows -= pruned
        new_version = self._commit_dml(
            table_name,
            {
                "op": "delete",
                "merge_buckets": man.get("merge_buckets"),
                **self._carry_mapping(man),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                "entries": keep_entries,
                "touched": touched_paths,
                **({"delete_vectors": new_dvs} if new_dvs else {}),
            },
            version + 1,
            base_entries=man["entries"],
            preds=preds,
            base_dvs=prior_dvs,
        )
        return {
            "deleted_rows": touched_rows - staged_rows,
            "files_rewritten": len(touched_paths),
            "version": new_version,
        }

    def update_where(
        self,
        table_name: str,
        predicates: list[tuple],
        assignments: dict[str, "Column | str"],
        *,
        mode: str = "cow",
    ) -> dict:
        """File-pruned UPDATE: apply ``assignments`` (column → Column
        or SQL expression string) to the rows matching ``predicates``;
        one atomic op="update" commit — ``UPDATE … SET … WHERE`` for
        the commit-log store, same pruning story as
        :meth:`delete_where`. Two physical strategies:

        - ``mode="cow"`` (copy-on-write, default): rewrite the files
          whose zone maps admit a match, applying assignments to the
          matching rows; non-matching rows rewrite verbatim, untouched
          files carry by reference. Cost scales with the touched
          files' FULL row width.
        - ``mode="mor"`` (merge-on-read): the matching rows' (file,
          pos) identities land in a position-delete sidecar and their
          POST-UPDATE images append as one new data dir — Iceberg
          v2's delete+append UPDATE encoding. Touched files are
          scanned (predicate columns only drive the match) but never
          rewritten: a point UPDATE on a wide table writes KBs. Reads
          anti-join the DVs as usual; compact materializes.

        The change feed emits ``update_postimage`` rows under both
        modes (digest diff, so a no-op assignment emits nothing).
        Returns ``{"updated_rows", "files_rewritten", "version"}`` —
        updated_rows counted during the write via ``observe``/DV rows
        (no extra job).
        """
        from pyspark.sql import Observation

        from pyairbyte_spark.filestats import (
            dnf_to_column,
            file_may_match_dnf,
            normalize_dnf,
        )

        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown update mode {mode!r}: use cow or mor")
        preds = normalize_dnf(predicates)
        if not preds:
            raise ValueError("update_where requires predicates")
        if not assignments:
            raise ValueError("update_where requires assignments")
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        phys_preds = self._physical_dnf(man, preds)
        if any(e.get("files") is None for e in man["entries"]):
            raise ValueError(
                "update_where needs per-file stats in the manifest; run "
                "compact() once to migrate this pre-stats table"
            )
        prior_dvs = man.get("delete_vectors") or []
        keep_entries: list[dict] = []
        touched_paths: list[str] = []
        parts: list[DataFrame] = []
        need_dv_cols = mode == "mor" or bool(prior_dvs)
        for e in man["entries"]:
            live = e.get("buckets")
            kept_files: list[dict] = []
            touched_files: list[dict] = []
            for f in e["files"]:
                dead = not _file_live(live, f)
                if not dead and file_may_match_dnf(f, phys_preds):
                    touched_files.append(f)
                else:
                    kept_files.append(f)
            if touched_files:
                base = os.path.join(self._entry_base(table_name, e), e["path"])
                parts.append(
                    self._read_entry(
                        base,
                        e,
                        [os.path.join(base, f["path"]) for f in touched_files],
                        man,
                        dv_cols=need_dv_cols,
                    )
                )
                touched_paths.extend(
                    f'{e["path"]}/{f["path"]}' for f in touched_files
                )
            if kept_files:
                # A shrunk file list leaves superseded files in the
                # (immutable-until-vacuum) dir: flag the entry so the
                # distributed scan never collapses it to a whole-dir
                # read (the list, not the dir, is authoritative).
                # (COW only — MoR keeps every entry untouched.)
                keep_entries.append(
                    {**e, "files": kept_files}
                    if not touched_files
                    else {**e, "files": kept_files, "pruned": True}
                )
        if not parts:
            return {"updated_rows": 0, "files_rewritten": 0, "version": version}
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p, allowMissingColumns=True)
        pks = set(man.get("primary_keys") or [])
        for col_name in assignments:
            if col_name in (AB_RAW_ID_COLUMN, AB_EXTRACTED_AT_COLUMN, BUCKET_COL):
                raise ValueError(f"cannot update bookkeeping column {col_name!r}")
            if self._to_physical(man, col_name) in pks:
                # A pk rewrite would keep the row's old __pk_bucket, so
                # a later write_merge hashes the new pk to a DIFFERENT
                # bucket, dedup never sees the stale row, and reads
                # return duplicate primary keys. Mirror drop_column's
                # guard (writers.py:683) — delete + re-insert instead.
                # Compare in PHYSICAL space: ``primary_keys`` stores
                # physical names, and a renamed pk (event_id → eid)
                # must not slip past a logical-name comparison.
                raise ValueError(
                    f"column {col_name!r} is a merge primary key; "
                    "update_where cannot reassign primary keys — "
                    "delete_where the old key and merge the new row"
                )
        if mode == "mor":
            return self._update_where_mor(
                table_name,
                man,
                version,
                union,
                preds,
                assignments,
                touched_paths,
                prior_dvs,
            )
        if prior_dvs:
            # The rewrite retires the touched files' DV entries; apply
            # them first so MoR-deleted rows don't resurrect (or get
            # updated) in the rewritten files.
            union = self._anti_join_dvs(union, table_name, prior_dvs)
        # The rewrite runs in LOGICAL space (predicates and assignment
        # expressions reference logical names); the result renames
        # back to physical before staging. Dropped columns are not
        # carried through a rewritten file — invisible either way.
        union = self._apply_mapping(union, man)
        cond = F.coalesce(dnf_to_column(preds), F.lit(False))
        obs = Observation()
        union = union.observe(
            obs, F.sum(cond.cast("long")).alias("updated_rows")
        )
        for col_name in assignments:
            if col_name not in union.columns:
                raise ValueError(f"unknown column {col_name!r}")
        # ONE projection: every RHS and the predicate see PRE-update
        # values (SQL UPDATE semantics; chained withColumn would feed
        # each assignment the previous one's output).
        updated = union.select(
            *[
                F.when(
                    cond,
                    (
                        F.expr(assignments[c])
                        if isinstance(assignments[c], str)
                        else assignments[c]
                    ),
                )
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in union.columns
            ]
        )
        # Persisted CHECKs guard the rewrite too: an UPDATE cannot
        # publish rows violating a table constraint.
        updated = self._enforce_checks(updated, man)
        entry = self._stage(self._rename_incoming(updated, man), table_name)
        if entry["files"]:
            keep_entries.append(entry)
        # Rewritten files retire their DV positions (applied above).
        upd_dvs, _ = self._prune_dvs(table_name, man, touched_paths)
        new_version = self._commit_dml(
            table_name,
            {
                "op": "update",
                "merge_buckets": man.get("merge_buckets"),
                **self._carry_mapping(man),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                "entries": keep_entries,
                "touched": touched_paths,
                **({"delete_vectors": upd_dvs} if upd_dvs else {}),
            },
            version + 1,
            base_entries=man["entries"],
            preds=phys_preds,
            base_dvs=prior_dvs,
        )
        return {
            "updated_rows": int(obs.get["updated_rows"] or 0),
            "files_rewritten": len(touched_paths),
            "version": new_version,
        }

    def _update_where_mor(
        self,
        table_name: str,
        man: dict,
        version: int,
        union: DataFrame,
        preds: list,
        assignments: dict,
        touched_paths: list[str],
        prior_dvs: list[dict],
    ) -> dict:
        """Merge-on-read UPDATE: the matching rows' positions become
        position deletes and their post-update images append as one
        new data dir — Iceberg v2's delete+append encoding. Entries
        stay untouched (no ``pruned`` flags, no rewrite); prior DVs on
        the touched files remain valid alongside the new one. The
        matched slice is localCheckpoint'ed so the touched files are
        scanned ONCE for both the DV and the postimage stage."""
        from pyairbyte_spark.filestats import dnf_to_column

        live = (
            self._anti_join_dvs(union, table_name, prior_dvs, keep_cols=True)
            if prior_dvs
            else union
        )
        live = self._apply_mapping(live, man)
        for col_name in assignments:
            if col_name not in live.columns:
                raise ValueError(f"unknown column {col_name!r}")
        cond = F.coalesce(dnf_to_column(preds), F.lit(False))
        doomed = live.filter(cond).localCheckpoint(eager=True)
        if doomed.isEmpty():
            return {
                "updated_rows": 0,
                "files_rewritten": 0,
                "version": version,
            }
        dv_entry = self._stage_dv(
            doomed.select(
                F.col("__dv_file").alias("file"),
                F.col("__dv_pos").alias("pos"),
            ),
            table_name,
        )
        post = doomed.drop("__dv_file", "__dv_pos")
        # Every doomed row matched: ONE projection applies the
        # assignments, all RHS seeing pre-update values.
        post = post.select(
            *[
                (
                    F.expr(assignments[c])
                    if isinstance(assignments[c], str)
                    else assignments[c]
                ).alias(c)
                if c in assignments
                else F.col(c)
                for c in post.columns
            ]
        )
        post = self._enforce_checks(post, man)
        entry = self._stage(
            self._materialize_added(self._rename_incoming(post, man), man),
            table_name,
        )
        new_dvs = [*prior_dvs, dv_entry]
        if len(new_dvs) > self._DV_CONSOLIDATE_AT:
            merged = self._stage_dv(
                self._dv_frame(table_name, new_dvs), table_name
            )
            new_dvs = [merged]
        new_version = self._commit_dml(
            table_name,
            {
                "op": "update",
                "mor": True,  # the change feed classifies by this
                "merge_buckets": man.get("merge_buckets"),
                **self._carry_mapping(man),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                "entries": (
                    [*man["entries"], entry]
                    if entry["files"]
                    else man["entries"]
                ),
                "touched": touched_paths,
                "delete_vectors": new_dvs,
            },
            version + 1,
            base_entries=man["entries"],
            preds=self._physical_dnf(man, preds),
            base_dvs=prior_dvs,
        )
        return {
            "updated_rows": dv_entry["rows"],
            "files_rewritten": 0,
            "version": new_version,
        }

    # -- bloom-filter point-lookup index (bloom.py) --------------------------

    # Target on-disk bytes per bloom-index shard. Small tables still
    # produce ONE part file (same layout as before sharding); a
    # many-million-file index splits into ~64 MB parquet parts so no
    # single write task — and no later relational probe task — owns
    # the whole index.
    _BLOOM_SHARD_TARGET_BYTES = 64 << 20
    # The bloom index parquet: one row per (file, column), written by
    # build_bloom_index and read back with this schema.
    _BLOOM_SCHEMA = (
        "entry_path string, file_path string, col string, "
        "m int, k int, bits binary"
    )

    def _bloom_index_path(self, table_name: str, meta: dict) -> str:
        """Absolute dir of a bloom index: this table's root, or the
        recorded ``base`` when the index was carried by SHALLOW CLONE
        (index rows key ``(entry_path, file_path)`` — identical in the
        clone, whose entries reference the same physical files — so
        the byte-identical index dir is shared, like clone data
        dirs)."""
        return os.path.join(
            meta.get("base") or self.table_path(table_name), meta["ref"]
        )

    def _live_files_frame(
        self,
        table_name: str,
        man: dict | None,
        entries_df: "DataFrame | None",
    ) -> DataFrame:
        """The snapshot's LIVE data files as a small relational frame
        ``(entry_path, file_path, base, rows)`` — the unit bloom
        building and coverage accounting fan out over. Driver memory:
        O(files) rows for materialized manifests (those are already
        driver-resident dicts), O(1) for sidecar-backed snapshots (the
        checkpoint parquet itself is the frame; clone bases join from
        the header rows' ``extra`` JSON)."""
        if entries_df is not None:
            hdr = entries_df.filter(F.col("file_path").isNull()).select(
                "entry_path", _entry_base_col().alias("base")
            )
            return (
                entries_df.filter(_live_file_col())
                .select("entry_path", "file_path", "rows")
                .join(hdr, "entry_path", "left")
                .select("entry_path", "file_path", "base", "rows")
            )
        return self.spark.createDataFrame(
            self._live_files_local(man),
            "entry_path string, file_path string, base string, rows long",
        )

    @staticmethod
    def _live_files_local(man: dict) -> "list[tuple]":
        """Driver-resident twin of :meth:`_live_files_frame` for
        materialized manifests: the same ``(entry_path, file_path,
        base, rows)`` rows as a plain list. Callers that only need
        counts/sums/paths over a driver-resident manifest fold this
        list directly instead of paying a Spark round-trip."""
        return [
            (e["path"], f["path"], e.get("base"), f.get("rows"))
            for e in man.get("entries") or []
            for f in e.get("files") or []
            if _file_live(e.get("buckets"), f)
        ]

    def build_sum_stats(
        self,
        table_name: str,
        columns: "list[str] | None" = None,
    ) -> dict:
        """Backfill per-file column SUMs into the current snapshot's
        manifest stats — the maintenance twin of the write-time
        ``harvest_sums=True`` harvest (:meth:`_harvest_sums_into`),
        for tables written before the flag was set. ONE column-pruned
        Spark job over exactly the files still missing a sum for any
        requested integral column, then an op="repair_metadata" commit
        (row-preserving: CDF-silent, diff-peelable, cheap) carrying
        the enriched stats. After it, sum/avg-bearing
        :meth:`agg_where` calls answer must-match files from metadata
        (``files_scanned == 0`` on a covered clustered range).

        ``columns``: logical names to backfill (default: every
        integral column). Files whose footer harvest omitted a column
        (stat-less row groups, type caps) stay sum-less —
        conservative, they scan. Returns ``{"files_summed",
        "columns", "version"}``."""
        version = self.latest_version(table_name)
        man = self._read_manifest(table_name, version)
        sch = _newest_schema(man)
        if sch is None:
            raise ValueError(f"table {table_name!r} has no schema source")
        integral = {
            c
            for c, t in _recorded_types(sch).items()
            if t in self._SUM_STAT_TYPES
        }
        if columns is not None:
            want = {self._to_physical(man, c) for c in columns}
            bad = want - integral
            if bad:
                raise ValueError(
                    f"columns {sorted(bad)} are not integral; per-file "
                    "sums are harvested only for exact integer types"
                )
            integral = want
        integral.discard(BUCKET_COL)
        cols = sorted(integral)
        if not cols:
            return {"files_summed": 0, "columns": [], "version": version}
        # target: live files with a stat record for some wanted column
        # but no sum on it yet
        targets: dict[str, tuple[int, int]] = {}
        entries = [dict(e) for e in man.get("entries") or []]
        for ei, e in enumerate(entries):
            live = e.get("buckets")
            for fi, f in enumerate(e.get("files") or []):
                if not _file_live(live, f):
                    continue
                stats = f.get("stats") or {}
                if any(
                    c in stats and "sum" not in stats[c] for c in cols
                ):
                    abs_key = f"{e['path']}/{f['path']}"
                    targets[abs_key] = (ei, fi)
        if not targets:
            return {"files_summed": 0, "columns": cols, "version": version}
        paths = [
            os.path.join(
                self._entry_base(table_name, entries[ei]),
                key,
            )
            for key, (ei, _fi) in targets.items()
        ]
        rows = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(
                *[
                    F.sum(F.col(c).cast("decimal(38,0)")).alias(c)
                    for c in cols
                ]
            )
            .collect()
        )
        summed = 0
        new_entries = [
            {**e, "files": [dict(f) for f in e["files"]]}
            if e.get("files") is not None
            else e
            for e in entries
        ]
        by_base: dict[str, list] = {}
        for key, t in targets.items():
            by_base.setdefault(key.rsplit("/", 1)[-1], []).append((key, t))
        for r in rows:
            fp = r["__fp"]
            cands = by_base.get(fp.rsplit("/", 1)[-1]) or []
            hit = next((t for key, t in cands if fp.endswith(key)), None)
            if hit is None:
                continue
            ei, fi = hit
            f = new_entries[ei]["files"][fi]
            stats = {
                k: dict(v) for k, v in (f.get("stats") or {}).items()
            }
            changed = False
            for c in cols:
                cs = stats.get(c)
                if cs is not None and "sum" not in cs and r[c] is not None:
                    cs["sum"] = int(r[c])
                    changed = True
            if changed:
                f["stats"] = stats
                summed += 1
        self._commit(
            table_name,
            {
                "op": "repair_metadata",
                "merge_buckets": man.get("merge_buckets"),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                "entries": new_entries,
                **self._carry_mapping(man),
                **self._carry_dv(man),
            },
            version + 1,
        )
        return {
            "files_summed": summed,
            "columns": cols,
            "version": version + 1,
        }

    def build_bloom_index(
        self,
        table_name: str,
        columns: list[str],
        *,
        fpr: float = 0.01,
        only_missing: bool = False,
    ) -> dict:
        """Build (or incrementally extend) the table's per-file bloom
        index for equality lookups on ``columns`` — data skipping
        where zone maps can't help (high-cardinality unsorted keys).

        One table scan: rows group by their physical file
        (``_metadata.file_path``) and each group folds into one bitset
        per column, sized from the group's row count for ``fpr``. The
        index lands in a ``bloomidx-<hex>/`` parquet referenced by the
        manifest's ``bloom_index`` field (op="set_bloom_index",
        metadata-only). Files appended after a build are conservatively
        unprunable until ``only_missing=True`` re-covers them — the
        maintenance-cadence call, which scans ONLY the uncovered files.
        Columns may be given by logical or physical name.

        Scale shape (the advertised use is "find this uuid in 100 TB",
        so the BUILD must survive the same table): the target-file set
        derives RELATIONALLY from the live-files frame — sidecar-backed
        snapshots never materialize a driver file list, prior-index
        rows carry by semi-/anti-join instead of a driver collect, and
        above :attr:`DISTRIBUTED_SURVIVOR_COLLAPSE_MIN` uncovered files
        the scan reads whole entry DIRS (O(data dirs) driver paths)
        with the uncovered-key filter applied as a row-level semi-join.
        The output parquet is SHARDED at ~64 MB per part, and the
        ``set_bloom_index`` commit RETRY-REBASES past concurrent
        writers like every other verb (the winner's entries carry;
        files a racer appended stay conservatively uncovered).

        Returns ``{"files_indexed", "columns", "version"}``.

        Reference: data-skipping indexes have no PyAirbyte analog
        (closest full-scan path: ``airbyte/caches/base.py``); semantics
        follow Delta/Iceberg bloom-filter column indexes."""
        import pandas as pd

        from pyairbyte_spark import bloom as bl
        from pyairbyte_spark import manifest as mf

        v0 = self._visible_head_version(table_name)
        if v0 is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        top, entries_df, man = self._scan_source(table_name, v0)
        if man is not None:
            if not man.get("entries"):
                raise FileNotFoundError(
                    f"table {table_name!r} does not exist"
                )
            if any(e.get("files") is None for e in man["entries"]):
                raise ValueError(
                    "bloom index needs per-file manifests; run compact() once"
                )
        elif (
            entries_df.filter(
                F.col("file_path").isNull() & ~F.col("has_files")
            )
            .limit(1)
            .count()
        ):
            raise ValueError(
                "bloom index needs per-file manifests; run compact() once"
            )
        phys = [self._to_physical(top, c) for c in columns]
        physical = self._empty_df(top)
        if physical is None and man is not None:
            physical = self._read_manifest_df(table_name, man)
        if physical is not None:  # pre-schema sidecar snapshots skip
            for c, p in zip(columns, phys):
                if p not in physical.columns:
                    raise ValueError(
                        f"unknown column {c!r} (bloom bits fold from "
                        "physical file contents)"
                    )
                t = physical.schema[p].dataType.simpleString()
                if not bl.type_supported(t):
                    raise ValueError(
                        f"bloom index supports string/integral columns; "
                        f"{c!r} is {t} (its CAST AS STRING rendering is "
                        "not engine-portable)"
                    )
        root = self.table_path(table_name)
        files_df = self._live_files_frame(table_name, man, entries_df)
        prior_meta = top.get("bloom_index")
        carried = None
        uncov = files_df
        prior_disk = 0
        prior_df = (
            self._bloom_read(table_name, prior_meta)
            if only_missing and prior_meta
            else None
        )
        if prior_df is not None:  # a vacuumed prior index re-covers all
            ppath = self._bloom_index_path(table_name, prior_meta)
            live_keys = files_df.select("entry_path", "file_path")
            # Relational carry: prior rows for still-live files keep,
            # dead-file rows compact away — no driver round-trip.
            carried = prior_df.join(
                live_keys, ["entry_path", "file_path"], "left_semi"
            ).select("entry_path", "file_path", "col", "m", "k", "bits")
            uncov = files_df.join(
                prior_df.select("entry_path", "file_path").distinct(),
                ["entry_path", "file_path"],
                "left_anti",
            )
            try:
                prior_disk = sum(
                    sz for _n, sz in self.io.list_files(ppath)
                )
            except OSError:
                prior_disk = 0
        # Uncovered-file accounting: a fresh build over a materialized
        # manifest has the whole live-file list driver-resident
        # already — fold count/sum/paths locally instead of a Spark
        # round-trip per fact. Incremental re-covers (prior-index
        # anti-join) and sidecar snapshots keep the relational path.
        local_uncov = (
            self._live_files_local(man)
            if man is not None and carried is None
            else None
        )
        if local_uncov is not None:
            n_new = len(local_uncov)
            _rs = [r[3] for r in local_uncov if r[3] is not None]
            new_rows = sum(_rs) if _rs else None
        else:
            agg = uncov.agg(
                F.count(F.lit(1)).alias("n"), F.sum("rows").alias("r")
            ).collect()[0]
            n_new = int(agg["n"] or 0)
            new_rows = None if agg["r"] is None else int(agg["r"])
        if n_new == 0 and carried is None:
            return {"files_indexed": 0, "columns": phys, "version": v0}
        built = None
        if n_new:
            if n_new <= self.DISTRIBUTED_SURVIVOR_COLLAPSE_MIN:
                # Selective regime (incremental re-cover, small table):
                # exact file paths skip covered files' I/O entirely;
                # the driver list is bounded by the threshold.
                targets = [
                    os.path.join(r[2] or root, r[0], r[1])
                    for r in (
                        local_uncov
                        if local_uncov is not None
                        else uncov.select(
                            "entry_path", "file_path", "base"
                        ).collect()
                    )
                ]
                src = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(*[self.io.spark_read_path(t) or t for t in targets])
            else:
                # Bulk regime: whole entry dirs — O(data dirs) driver
                # paths, never a per-file list. Superseded-bucket
                # files, COW-pruned files and already-covered files
                # drop via the key semi-join below.
                dirs = sorted(
                    {os.path.join(r[2] or root, r[0]) for r in local_uncov}
                    if local_uncov is not None
                    else {
                        os.path.join(r["base"] or root, r["entry_path"])
                        for r in uncov.select("base", "entry_path")
                        .distinct()
                        .collect()
                    }
                )
                src = (
                    self.spark.read.option("mergeSchema", "true")
                    .option("recursiveFileLookup", "true")
                    .parquet(
                        *[self.io.spark_read_path(d) or d for d in dirs]
                    )
                )
            # Hash in the JVM, scatter in numpy: the bloom family's two
            # Kirsch–Mitzenmacher lanes are md5 substrings, which Spark
            # computes codegen'd per batch — the Python side then only
            # does k vectorized scatters per file. Hashing in the
            # pandas fold (the old shape) paid one interpreted
            # hashlib.md5 per key per column — THE per-task cost of the
            # build at scale (guide §4.2) — and shipped the raw key
            # strings across the Arrow boundary; two longs per column
            # cross instead. NULL keys ride as -1 sentinels (conv/md5
            # of NULL is NULL; real lanes are non-negative), keeping
            # the Arrow columns int64-exact — a nullable int64 becomes
            # float64 in pandas and 2^60-sized lanes would lose
            # precision. Bit-identical to the probe side's
            # positions(): h1 = int(md5[:15], 16), h2 = int(md5[15:30],
            # 16) | 1.
            def _lanes(p: str) -> list:
                h = F.md5(F.col(p).cast("string").cast("binary"))
                return [
                    F.coalesce(
                        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
                        F.lit(-1),
                    ).alias(f"{p}__h1"),
                    F.coalesce(
                        F.conv(F.substring(h, 16, 15), 16, 10)
                        .cast("long")
                        .bitwiseOR(F.lit(1)),
                        F.lit(-1),
                    ).alias(f"{p}__h2"),
                ]

            src = src.select(
                *[lane for p in phys for lane in _lanes(p)],
                F.regexp_extract(
                    F.col("_metadata.file_path"), self._DV_FILE_RE, 1
                ).alias("__file"),
            )
            if n_new > self.DISTRIBUTED_SURVIVOR_COLLAPSE_MIN:
                src = src.join(
                    uncov.select(
                        F.concat_ws("/", "entry_path", "file_path").alias(
                            "__file"
                        )
                    ),
                    "__file",
                    "left_semi",
                )
            phys_b, fpr_b = list(phys), float(fpr)

            def fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                file_key = key[0]
                entry, _, rel = file_key.partition("/")
                m, k = bl.size_bits(len(pdf), fpr_b)
                out = []
                for col in phys_b:
                    out.append(
                        {
                            "entry_path": entry,
                            "file_path": rel,
                            "col": col,
                            "m": m,
                            "k": k,
                            "bits": bl.build_bits_from_lanes(
                                pdf[f"{col}__h1"].to_numpy(),
                                pdf[f"{col}__h2"].to_numpy(),
                                m,
                                k,
                            ),
                        }
                    )
                return pd.DataFrame(out)

            built = src.groupBy("__file").applyInPandas(
                fold, self._BLOOM_SCHEMA
            )
        frames = built
        if carried is not None:
            frames = (
                carried if frames is None else frames.unionByName(carried)
            )
        # Shard the output at ~_BLOOM_SHARD_TARGET_BYTES per part
        # (bloom bits are random, hence incompressible: disk ≈ memory;
        # row counts ride the manifest, so the estimate is free).
        per_row_bits = bl.size_bits(1_000_000, float(fpr))[0] / 1_000_000
        est = prior_disk + int(
            (per_row_bits / 8.0)
            * (new_rows if new_rows is not None else n_new * 250_000)
            * len(phys)
        )
        shards = int(
            max(1, min(4096, -(-est // self._BLOOM_SHARD_TARGET_BYTES)))
        )
        frames = (
            frames.coalesce(1) if shards == 1 else frames.repartition(shards)
        )
        name = f"bloomidx-{uuid.uuid4().hex[:12]}"
        out_path = os.path.join(root, name)
        frames.write.mode("overwrite").parquet(
            self.io.spark_read_path(out_path) or out_path
        )
        bloom_meta = {"ref": name, "columns": phys, "fpr": fpr}
        # Publish with retry-rebase, like every other verb: losing a
        # race to an append/DML re-commits against the WINNER's
        # snapshot instead of discarding the whole build scan. Files a
        # racer added stay conservatively uncovered; index rows for
        # files a racer removed are dead weight the next rebuild
        # compacts away. Neither direction affects exactness.
        for _ in range(self._COMMIT_RETRIES):
            if man is not None:
                snap2 = self._latest_commit(table_name)
                version2, man2 = snap2
                manifest = {
                    "op": "set_bloom_index",
                    "merge_buckets": man2.get("merge_buckets"),
                    **(
                        {"primary_keys": man2["primary_keys"]}
                        if man2.get("primary_keys")
                        else {}
                    ),
                    "entries": man2["entries"],
                    **{
                        k: v
                        for k, v in self._carry_mapping(man2).items()
                        if k != "bloom_index"
                    },
                    "bloom_index": bloom_meta,
                    **self._carry_dv(man2),
                }
                try:
                    landed = self._commit(table_name, manifest, version2 + 1)
                    return {
                        "files_indexed": n_new,
                        "columns": phys,
                        "version": landed,
                    }
                except ConcurrentCommitError:
                    continue
            else:
                # Sidecar-backed snapshot: a delta commit with ZERO
                # entry actions — new top fields only, entries carried
                # by base reference. Nothing O(files) ever touches the
                # driver on this path.
                snap2 = self._latest_commit(table_name)
                v2 = snap2[0] if snap2 else 0
                top2 = mf.top_fields(self._read_commit_json(table_name, v2))
                delta = {
                    **{
                        k: v
                        for k, v in top2.items()
                        if k not in ("op", "ts", "bloom_index")
                    },
                    "op": "set_bloom_index",
                    "bloom_index": bloom_meta,
                    "base": v2,
                    "remove_paths": [],
                    "add_entries": [],
                    "replace_entries": {},
                }
                try:
                    landed = self._commit(table_name, delta, v2 + 1)
                    # _commit caches what it was handed; a delta is
                    # not a resolved manifest — drop it.
                    self._man_cache.pop((table_name, landed), None)
                    return {
                        "files_indexed": n_new,
                        "columns": phys,
                        "version": landed,
                    }
                except ConcurrentCommitError:
                    continue
        raise ConcurrentCommitError(
            f"set_bloom_index on {table_name!r} lost "
            f"{self._COMMIT_RETRIES} commit races"
        )

    def bloom_coverage(self, table_name: str) -> dict | None:
        """Coverage watermark for the table's bloom index: how many
        LIVE files the current index covers. Compact / optimize /
        COW-DML rewrite files out from under their bloom rows, so
        coverage DECAYS until an ``only_missing=True`` rebuild (or a
        ``refresh_bloom=True`` compact/optimize); this is the number
        to alert on — ``read_where`` stays EXACT either way, uncovered
        files are merely unprunable. A removed index dir or an
        unreadable part covers nothing. Returns ``{"columns", "fpr",
        "files_total", "files_covered", "files_uncovered"}``, or None
        when the table has no index. Cost: with a driver-resident
        manifest, a driver-side fold over the index KEYS (reused from
        ``_bloom_cache`` when ``plan_scan`` already loaded the map,
        otherwise a key-only pyarrow read that never pulls the bits
        payload and never populates the cache) — zero Spark jobs;
        otherwise one metadata-only join (index keys × live-file
        keys), no data I/O."""
        v0 = self._visible_head_version(table_name)
        if v0 is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        top, entries_df, man = self._scan_source(table_name, v0)
        meta = top.get("bloom_index")
        if not meta:
            return None
        if man is not None:
            # Driver-resident manifest: fold coverage driver-side —
            # no Spark job. The fold needs KEYS only, so a cold
            # monitoring call does a key-only pyarrow read instead of
            # loading O(index-bytes) bits through _bloom_map (which
            # would also evict hot plan_scan entries from the shared
            # cache); an already-cached map is reused for free.
            # Oversize indexes keep the relational join below (never
            # pulled to the driver).
            key = (table_name, meta["ref"])
            mp = self._bloom_cache.get(key)
            cov = set(mp.keys()) if mp is not None else None
            if cov is None and key not in self._bloom_oversize:
                cov = self._bloom_coverage_keys(table_name, meta)
            if cov is not None:
                files = self._live_files_local(man)
                covered = sum(1 for r in files if (r[0], r[1]) in cov)
                return {
                    "columns": meta.get("columns"),
                    "fpr": meta.get("fpr"),
                    "files_total": len(files),
                    "files_covered": covered,
                    "files_uncovered": len(files) - covered,
                }
        files_df = self._live_files_frame(table_name, man, entries_df)
        idx = self._bloom_read(table_name, meta)
        if idx is None:
            total, covered = int(files_df.count()), 0
        else:
            keys = (
                idx.select("entry_path", "file_path")
                .distinct()
                .withColumn("__cov", F.lit(1))
            )
            agg = (
                files_df.join(keys, ["entry_path", "file_path"], "left")
                .agg(
                    F.count(F.lit(1)).alias("t"),
                    F.count("__cov").alias("c"),
                )
                .collect()[0]
            )
            total, covered = int(agg["t"]), int(agg["c"])
        return {
            "columns": meta.get("columns"),
            "fpr": meta.get("fpr"),
            "files_total": total,
            "files_covered": covered,
            "files_uncovered": total - covered,
        }

    @staticmethod
    def _bloom_pred_cols(bloom_meta: dict | None, preds: list) -> set[str]:
        """Indexed physical columns that appear as =/in conjuncts."""
        idx = set((bloom_meta or {}).get("columns") or [])
        used: set[str] = set()
        for branch in preds or []:
            for conj in branch:
                if conj[0] in idx and conj[1] in ("=", "==", "in"):
                    used.add(conj[0])
        return used

    # Sentinel: a bloom index too large to cache driver-side. plan_scan
    # reacts by probing membership RELATIONALLY (_bloom_join) —
    # nothing index-sized crosses the driver, however small the
    # table's manifest happens to be.
    _BLOOM_OVERSIZE = object()

    def _bloom_read(self, table_name: str, meta: dict) -> "DataFrame | None":
        """The index parquet as a Spark frame, or None when its dir is
        gone (vacuumed with an old snapshot). The schema is given, so
        no footer-inference job runs; a part that cannot be read
        (truncated, removed mid-scan) yields no rows, so the files it
        held read as uncovered, as they do on the driver
        (:meth:`_bloom_parts`)."""
        from pyspark.errors import AnalysisException

        path = self._bloom_index_path(table_name, meta)
        try:
            return (
                self.spark.read.schema(self._BLOOM_SCHEMA)
                .option("ignoreCorruptFiles", "true")
                .option("ignoreMissingFiles", "true")
                .parquet(self.io.spark_read_path(path) or path)
            )
        except AnalysisException:
            return None

    def _bloom_join(
        self,
        files_df: DataFrame,
        table_name: str,
        meta: dict,
        cols: "set[str]",
    ) -> "DataFrame | None":
        """``files_df`` left-joined on ``(entry_path, file_path)`` with
        its bloom rows for ``cols``, gathered per file into one
        ``__blooms`` array of ``(col, m, k, bits)`` structs — null for
        a file the index does not cover. None when the index cannot
        be read: then nothing is covered and nothing bloom-pruned."""
        idx = self._bloom_read(table_name, meta)
        if idx is None:
            return None
        bdf = (
            idx.filter(F.col("col").isin(sorted(cols)))
            .groupBy("entry_path", "file_path")
            .agg(
                F.collect_list(F.struct("col", "m", "k", "bits")).alias(
                    "__blooms"
                )
            )
        )
        return files_df.join(bdf, ["entry_path", "file_path"], "left")

    def _bloom_parts(
        self, path: str, listing: list, columns: "list[str]"
    ) -> "tuple[list, bool]":
        """pyarrow tables of the index parts in ``listing`` (``path``'s
        :meth:`FileIO.list_files`), read through the FileIO seam, and
        whether every part was read. A part that cannot be read
        (truncated, vacuumed mid-read) is skipped: the files it held
        read as uncovered, as with the Spark reader's
        ``ignoreCorruptFiles``."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        out, complete = [], True
        for n, _sz in listing:
            if not n.endswith(".parquet") or os.path.basename(n).startswith(
                ("_", ".")
            ):
                continue
            try:
                with self.io.open_input(os.path.join(path, n)) as src:
                    out.append(papq.read_table(src, columns=columns))
            except (OSError, pa.ArrowInvalid):
                complete = False
        return out, complete

    def _bloom_map(self, table_name: str, meta: dict):
        """The whole index as a driver dict ``{(entry, file): {col:
        (m, k, bits)}}`` when it fits the byte cap,
        :attr:`_BLOOM_OVERSIZE` when it doesn't, None when the dir is
        gone. Cached per (table, ref) — index dirs are immutable, a
        rebuild changes the ref. :meth:`bloom_coverage` folds coverage
        from the same cached dict instead of a per-call Spark join."""
        key = (table_name, meta["ref"])
        cached = self._bloom_cache.get(key)
        if cached is not None:
            return cached
        if key in self._bloom_oversize:
            return self._BLOOM_OVERSIZE
        path = self._bloom_index_path(table_name, meta)
        # Size probe BEFORE any collect (bloom bits are incompressible,
        # so on-disk bytes ≈ driver bytes): an over-cap index is never
        # pulled to the driver — not even once.
        try:
            listing = self.io.list_files(path)
        except OSError:
            listing = []
        if not listing:
            return None  # index dir vacuumed: skip
        if sum(sz for _n, sz in listing) > self._BLOOM_CACHE_MAX_BYTES:
            self._bloom_oversize.add(key)
            return self._BLOOM_OVERSIZE
        # The dir just passed the byte cap, so pull it driver-side
        # through the FileIO seam (pyarrow) — same rows as the Spark
        # read minus the scheduler round-trip (the read_rows_local
        # rationale; this load happens once per (table, ref) and is
        # cached below).
        tbls, complete = self._bloom_parts(
            path, listing, ["entry_path", "file_path", "col", "m", "k", "bits"]
        )
        out: dict = {}
        for tbl in tbls:
            for r in tbl.to_pylist():
                out.setdefault((r["entry_path"], r["file_path"]), {})[
                    r["col"]
                ] = _bloom_bits(r)
        if not complete:
            return out  # not cached: a transient read error may clear
        # Byte accounting from the FINAL dict: duplicate (entry, file,
        # col) rows overwrite in place, so summing raw row bytes would
        # over-state and permanently shrink effective capacity.
        nbytes = sum(
            len(b) for fb in out.values() for (_m, _k, b) in fb.values()
        )
        if nbytes > self._BLOOM_CACHE_MAX_BYTES:
            # The size probe under-estimated (tiny parquet overhead
            # variance): serve this result, go relational next time.
            self._bloom_oversize.add(key)
            return out
        while (
            self._bloom_cache
            and self._bloom_cache_bytes + nbytes
            > self._BLOOM_CACHE_MAX_BYTES
        ):
            old = self._bloom_cache.pop(next(iter(self._bloom_cache)))
            self._bloom_cache_bytes -= sum(
                len(b) for fb in old.values() for (_m, _k, b) in fb.values()
            )
        if key not in self._bloom_cache:  # concurrent double-miss guard
            self._bloom_cache[key] = out
            self._bloom_cache_bytes += nbytes
        return out

    def _bloom_coverage_keys(
        self, table_name: str, meta: dict
    ) -> "set | None":
        """Covered ``(entry_path, file_path)`` keys via a KEY-ONLY
        pyarrow read — :meth:`bloom_coverage`'s fold needs no bits
        payload, so a cold monitoring call neither loads O(index)
        bytes nor perturbs the shared ``_bloom_cache``. Returns a set
        (empty for a vacuumed dir), or None to use the relational
        join instead (over-cap or unlistable dir)."""
        path = self._bloom_index_path(table_name, meta)
        try:
            listing = self.io.list_files(path)
        except OSError:
            return None
        if sum(sz for _n, sz in listing) > self._BLOOM_CACHE_MAX_BYTES:
            return None
        keys: set = set()
        tbls, _complete = self._bloom_parts(
            path, listing, ["entry_path", "file_path"]
        )
        for tbl in tbls:
            keys.update(
                zip(
                    tbl.column("entry_path").to_pylist(),
                    tbl.column("file_path").to_pylist(),
                )
            )
        return keys

    def clone_table(
        self,
        source: str,
        dest: str,
        *,
        source_store: "CommitLogTableStore | None" = None,
        version: int | None = None,
    ) -> int:
        """SHALLOW CLONE (Delta's ``CREATE TABLE … SHALLOW CLONE``):
        publish ``dest``'s first commit referencing ``source``'s
        current (or ``version``'s) data files BY ABSOLUTE BASE — zero
        bytes copied, however big the source. The clone then diverges
        independently: appends/DML/merges write their own local dirs
        while untouched source files stay referenced by base;
        ``compact()`` materializes the clone fully local. Deletion
        vectors clone by reference too (their file keys are
        base-independent), so a MoR-deleted source row stays deleted
        in the clone. Table metadata (column mapping, checks, added
        columns, bucket layout) carries, and so does the BLOOM INDEX —
        its rows key ``(entry_path, file_path)``, identical in the
        clone, so the index dir is shared by reference (``base``) and
        clone point lookups prune from commit 1 with no rebuild; the
        clone's own builds then write locally. Txn watermarks do NOT
        carry (fresh lineage).

        The commit is a plain ``op="replace"`` carrying
        ``cloned_from`` — every reader, the change feed (initial
        snapshot = inserts), and the streaming tail work unchanged.

        The standard shallow-clone caveat applies: ``vacuum`` or
        ``drop`` on the SOURCE can reclaim files the clone still
        references (the clone's own vacuum never touches foreign
        dirs). ``source_store`` lets the source live in a different
        warehouse/schema. Returns the clone's version (1)."""
        st = source_store or self
        src_v = st.latest_version(source) if version is None else version
        man = st._read_manifest(source, src_v)
        st._require_visible(source, src_v, man)
        if not man.get("entries"):
            raise FileNotFoundError(f"table {source!r} does not exist")
        if self._latest_commit(dest) is not None:
            raise ValueError(f"table {dest!r} already exists")
        src_base = st.table_path(source)
        entries = [
            {**e, "base": e.get("base") or src_base}
            for e in man["entries"]
        ]
        dvs = [
            {**d, "base": d.get("base") or src_base}
            for d in man.get("delete_vectors") or []
        ]
        carry = {
            k: v
            for k, v in self._carry_mapping(man).items()
            if k not in ("txns", "bloom_index")
        }
        bi = man.get("bloom_index")
        if bi:
            # Shared by reference, like the data files it describes.
            # The standard clone caveat applies: a SOURCE vacuum that
            # reclaims the index dir degrades the clone to unindexed
            # scans (readers skip a vanished index, never fail).
            carry["bloom_index"] = {
                **bi,
                "base": bi.get("base") or src_base,
            }
        return self._commit(
            dest,
            {
                "op": "replace",
                "cloned_from": src_base,
                "merge_buckets": man.get("merge_buckets"),
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                "entries": entries,
                **carry,
                **({"delete_vectors": dvs} if dvs else {}),
            },
            1,
        )

    # -- maintenance --------------------------------------------------------

    def restore(self, table_name: str, version: int) -> int:
        """Delta ``RESTORE TABLE … TO VERSION``: publish a NEW commit
        whose snapshot is ``version``'s — a metadata-only rollback
        (entries carried by reference, no data I/O), forward-recorded
        in the history so the rollback is itself auditable and
        time-travelable. Restores the data AND the version's table
        metadata (column mapping, checks, bucket layout). Requires the
        target's data to still exist (not vacuumed). The change feed
        reports the swap as delete+insert, like replace. Returns the
        new version."""
        target = self._read_manifest(table_name, version)
        self._require_visible(table_name, version, target)
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        latest, _ = snap
        for e in target.get("entries") or []:
            d = os.path.join(self._entry_base(table_name, e), e["path"])
            if not self.io.is_dir(d):
                raise FileNotFoundError(
                    f"cannot restore {table_name!r} to version {version}: "
                    f"data dir {e['path']} was vacuumed; only versions "
                    "within the vacuum retention window are restorable"
                )
        for dv in target.get("delete_vectors") or []:
            d = os.path.join(self._entry_base(table_name, dv), dv["path"])
            if not self.io.is_dir(d):
                raise FileNotFoundError(
                    f"cannot restore {table_name!r} to version {version}: "
                    f"deletion-vector dir {dv['path']} was vacuumed"
                )
        return self._commit(
            table_name,
            {
                "op": "restore",
                "restored_version": version,
                "merge_buckets": target.get("merge_buckets"),
                **(
                    {"primary_keys": target["primary_keys"]}
                    if target.get("primary_keys")
                    else {}
                ),
                **{
                    k: v
                    for k, v in self._carry_mapping(target).items()
                    if k != "txns"
                },
                **self._carry_dv(target),
                # Txn watermarks are monotone table state, NOT part of
                # the restored snapshot: resurrecting an older map
                # would let already-committed micro-batches replay.
                **(
                    {"txns": snap[1]["txns"]}
                    if snap[1].get("txns")
                    else {}
                ),
                "entries": target.get("entries") or [],
            },
            latest + 1,
        )

    def vacuum(
        self,
        table_name: str,
        *,
        keep_commits: int = 1,
        keep_hours: float | None = None,
    ) -> list[str]:
        """Reclaim storage unreferenced by the ``keep_commits`` most
        recent snapshots, and drop older commit files. With
        ``keep_hours`` the retention horizon is TIME-based (Delta's
        ``VACUUM … RETAIN n HOURS``): every commit younger than the
        horizon survives, however many there are — the deployment
        contract users actually reason about ("7 days of time travel")
        — and ``keep_commits`` still sets the floor (the latest
        snapshot never vacuums). Commits predating the ``ts`` audit
        field count as old. Two granularities:

        - whole data DIRS no kept snapshot references (superseded by
          replace / compact / full-rewrite merge);
        - individual FILES inside still-referenced dirs that every
          kept manifest's file list omits — how bytes dropped by
          :meth:`delete_where` / :meth:`update_where` get reclaimed
          without waiting for a full compact. Dirs whose kept
          manifests predate file lists are skipped (the dir itself is
          the only authority there).

        Time travel to a vacuumed version stops working — the standard
        retention trade. (A shared-filesystem deployment would add a
        grace period for in-flight readers; snapshots pin their files
        only logically.)
        """
        from pyairbyte_spark import manifest as mf

        d = self._commits_dir(table_name)
        names = sorted(n for n in self.io.list_names(d) if n.endswith(".json"))
        if not names:
            return []
        keep = names[-keep_commits:] if keep_commits > 0 else names[-1:]
        if keep_hours is not None:
            cutoff = int(time.time() - keep_hours * 3600)
            young = [
                n
                for n in names
                if (
                    self._read_commit_json(table_name, int(n[:-5])).get("ts")
                    or 0
                )
                >= cutoff
            ]
            # union of the count floor and the time horizon, contiguous
            # from the newest commit (the resolver needs the chain)
            first = min(
                ([names.index(young[0])] if young else [])
                + [len(names) - len(keep)]
            )
            keep = names[first:]
        # The retention window counts RAW commits — but the newest
        # VISIBLE snapshot must always survive: with in-flight or
        # aborted txn prepares at the head, keep_commits=1 would
        # otherwise retain only invisible slots and reclaim the
        # snapshot every reader resolves to. Extend the (contiguous-
        # from-newest) window down to the visible head; the prepares
        # above it stay too — an undecided group may still commit.
        snap_vis = self._latest_commit(table_name)
        if snap_vis is not None:
            vis_name = f"{snap_vis[0]:020d}.json"
            if vis_name in names and vis_name not in keep:
                keep = names[names.index(vis_name):]
        # Live refs pin the horizon: a branch's fallback read resolves
        # its fork-point base, a tag reads its pinned version — the
        # contiguous-from-newest window extends down to the oldest such
        # floor (drop stale branches/tags to release it).
        ref_floor = self._ref_retention_floor(table_name)
        if ref_floor is not None:
            floor_name = f"{ref_floor:020d}.json"
            if floor_name in names and floor_name not in keep:
                keep = names[names.index(floor_name):]
        # Delta chains: the oldest kept commit may resolve through
        # versions about to be deleted. Checkpoint it first — rewrite
        # its stored form as the resolved FULL manifest (byte change,
        # identical logical content), so every kept version stays
        # resolvable after the chain below is dropped. Later kept
        # deltas chain down only as far as this now-full commit.
        oldest_kept = int(keep[0][:-5])
        if mf.is_delta(self._read_manifest_raw(table_name, oldest_kept)):
            resolved = self._read_manifest(table_name, oldest_kept)
            data, _sc = self._serialize_manifest(
                table_name,
                oldest_kept,
                {k: v for k, v in resolved.items() if k != "version"},
            )
            self.io.write_text(os.path.join(d, keep[0]), data)
        live_dirs: set[str] = set()
        live_dvs: set[str] = set()  # dv sidecar dirs any kept snapshot uses
        live_blooms: set[str] = set()  # bloom index dirs kept snapshots use
        # dir → set of referenced rel paths; None = whole dir pinned
        live_files: dict[str, set[str] | None] = {}
        for n in keep:
            man = self._read_manifest(table_name, int(n[:-5]))
            for dv in man.get("delete_vectors") or []:
                live_dvs.add(dv["path"])
            if man.get("bloom_index"):
                live_blooms.add(man["bloom_index"]["ref"])
            for e in man.get("entries") or []:
                live_dirs.add(e["path"])
                files = e.get("files")
                if files is None or live_files.get(e["path"], set()) is None:
                    live_files[e["path"]] = None  # pre-stats: pin dir
                else:
                    # A carried merge entry lists ALL its files but only
                    # the buckets in e["buckets"] are live in this
                    # snapshot — files of superseded buckets are
                    # unreachable (reads bucket-prune) and reclaimable.
                    live = e.get("buckets")
                    live_files.setdefault(e["path"], set()).update(
                        f["path"] for f in files if _file_live(live, f)
                    )
        removed: list[str] = []
        tdir = self.table_path(table_name)
        for name in self.io.list_names(tdir):
            if name.startswith("bloomidx-"):
                # Bloom index dirs: superseded by rebuilds or the
                # retention horizon passing their last reference.
                if name not in live_blooms:
                    self.io.delete_dir(os.path.join(tdir, name))
                    removed.append(name)
                continue
            if name.startswith("dv-"):
                # Deletion-vector sidecars: superseded by consolidation,
                # compaction, or the retention horizon passing their
                # last referencing snapshot.
                if name not in live_dvs:
                    self.io.delete_dir(os.path.join(tdir, name))
                    removed.append(name)
                continue
            if not name.startswith("d-"):
                continue
            if name not in live_dirs:
                self.io.delete_dir(os.path.join(tdir, name))
                removed.append(name)
                continue
            referenced = live_files.get(name)
            if referenced is None:
                continue
            base = os.path.join(tdir, name)
            for rel, _size in self.io.list_files(base):
                if rel.endswith(".parquet") and rel not in referenced:
                    self.io.delete_file(os.path.join(base, rel))
                    removed.append(f"{name}/{rel}")
        for n in names[: -len(keep)] if len(keep) < len(names) else []:
            self.io.delete_file(os.path.join(d, n))
        # Checkpoint sidecars: keep the ones surviving commit JSONs
        # reference; the rest (dropped versions, crashed-writer
        # orphans) are unreachable garbage. Deletion is gated on the
        # sidecar's VERSION PREFIX being below the oldest kept commit:
        # a concurrent writer stages its sidecar BEFORE publishing the
        # commit JSON (stage-then-publish), and that in-flight sidecar
        # carries a version > latest — an unreferenced-only sweep
        # would delete it in the window, letting the subsequent
        # put_if_absent publish a commit whose entries_ref is gone.
        # True orphans (lost commit races) sit at already-claimed
        # versions and are reclaimed once vacuum's horizon passes them.
        live_refs = set()
        for n in keep:
            try:
                ref = json.loads(
                    self.io.read_text(os.path.join(d, n))
                ).get("entries_ref")
            except OSError:
                continue
            if ref:
                live_refs.add(ref)
        for n in self.io.list_names(d):
            if not n.endswith(".checkpoint.parquet") or n in live_refs:
                continue
            try:
                sidecar_version = int(n.split(".", 1)[0])
            except ValueError:
                continue  # unrecognized name: never delete
            if sidecar_version >= oldest_kept:
                continue  # possibly an in-flight writer's staged sidecar
            self.io.delete_file(os.path.join(d, n))
            removed.append(f"{self.COMMIT_DIR}/{n}")
        self._invalidate_manifests(table_name, below=oldest_kept)
        self._repair_dir_completeness(table_name)
        return removed

    def _repair_dir_completeness(self, table_name: str) -> bool:
        """Clear ``pruned`` flags vacuum made stale: once the
        superseded files are physically gone, a dir whose remaining
        parquet files exactly match the latest entry's live list is
        dir-complete again — the distributed scan's whole-dir collapse
        (the O(entries)-not-O(files) planning path) becomes legal for
        it once more. One tiny metadata commit (op="repair_metadata",
        no row changes); best-effort — a lost commit race just leaves
        the conservative flags in place for the next vacuum."""
        snap = self._latest_commit(table_name)
        if snap is None:
            return False
        version, man = snap
        entries = man.get("entries") or []
        if not any(e.get("pruned") for e in entries):
            return False
        new_entries: list[dict] = []
        changed = False
        for e in entries:
            if not e.get("pruned") or e.get("files") is None:
                new_entries.append(e)
                continue
            base = os.path.join(self._entry_base(table_name, e), e["path"])
            physical = {
                rel
                for rel, _sz in self.io.list_files(base)
                if rel.endswith(".parquet")
            }
            if physical == {f["path"] for f in e["files"]}:
                new_entries.append(
                    {k: v for k, v in e.items() if k != "pruned"}
                )
                changed = True
            else:  # an older kept snapshot still pins extra files
                new_entries.append(e)
        if not changed:
            return False
        try:
            self._commit(
                table_name,
                {
                    "op": "repair_metadata",
                    "merge_buckets": man.get("merge_buckets"),
                    **(
                        {"primary_keys": man["primary_keys"]}
                        if man.get("primary_keys")
                        else {}
                    ),
                    "entries": new_entries,
                    **self._carry_mapping(man),
                    **self._carry_dv(man),
                },
                version + 1,
            )
        except ConcurrentCommitError:
            return False  # flags stay conservative; next vacuum retries
        return True

    def _maybe_refresh_bloom(self, table_name: str, man: dict) -> None:
        """Re-cover a maintenance rewrite's fresh files in the bloom
        index (``only_missing=True`` — scans ONLY the new files).
        Called by compact/optimize under ``refresh_bloom=True`` so
        point-lookup pruning survives the rewrite instead of decaying
        to the :meth:`bloom_coverage` watermark."""
        bi = man.get("bloom_index")
        if not bi:
            return
        self.build_bloom_index(
            table_name,
            list(bi.get("columns") or []),
            fpr=float(bi.get("fpr") or 0.01),
            only_missing=True,
        )

    def optimize(
        self,
        table_name: str,
        *,
        small_file_bytes: int = 32 << 20,
        min_files: int = 2,
        refresh_bloom: bool = False,
    ) -> dict:
        """Bin-packing small-file compaction (Delta ``OPTIMIZE``
        without ZORDER): rewrite ONLY the live files below
        ``small_file_bytes`` into one fresh data dir, carrying every
        large file by reference. On a 100 TB append-heavy table this
        is the affordable maintenance op — cost scales with the SMALL
        tail a sync cadence produces (thousands of KB-files), not the
        table; :meth:`compact` (full rewrite) stays the tool for
        re-clustering. Within a bucketed layout the partition column
        is preserved, so rewritten rows stay routable.

        Deletion vectors on rewritten files are applied (no
        resurrection) and retired; DVs on carried files survive. The
        change feed skips the commit (bytes moved, no row changes —
        op="compact"). A concurrent APPEND rebases unconditionally
        (bin-packing commutes with new files; they are simply not
        packed this round); concurrent DML/merge aborts the optimize,
        which is safe to just re-run.

        Returns ``{"optimized", "files_rewritten", "files_kept",
        "bytes_rewritten"}``.
        """
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            return {"optimized": False, "reason": "no snapshot"}
        version, man = snap
        if any(e.get("files") is None for e in man["entries"]):
            return {"optimized": False, "reason": "pre-stats manifest"}
        prior_dvs = man.get("delete_vectors") or []
        keep_entries: list[dict] = []
        small_paths: list[str] = []
        parts: list[DataFrame] = []
        kept_files_n = 0
        bytes_rewritten = 0
        for e in man["entries"]:
            live = e.get("buckets")
            kept: list[dict] = []
            small: list[dict] = []
            for f in e["files"]:
                dead = not _file_live(live, f)
                if not dead and (f.get("bytes") or 0) < small_file_bytes:
                    small.append(f)
                else:
                    kept.append(f)
                    if not dead:
                        kept_files_n += 1
            if small:
                base = os.path.join(self._entry_base(table_name, e), e["path"])
                parts.append(
                    self._read_entry(
                        base,
                        e,
                        [os.path.join(base, f["path"]) for f in small],
                        man,
                        dv_cols=bool(prior_dvs),
                    )
                )
                small_paths.extend(
                    f'{e["path"]}/{f["path"]}' for f in small
                )
                bytes_rewritten += sum(f.get("bytes") or 0 for f in small)
            if kept:
                # Same dir-completeness flag as delete/update: compacted
                # source files stay on disk until vacuum.
                keep_entries.append(
                    {**e, "files": kept}
                    if not small
                    else {**e, "files": kept, "pruned": True}
                )
        if len(small_paths) < min_files:
            return {
                "optimized": False,
                "reason": f"fewer than {min_files} small files",
            }
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p, allowMissingColumns=True)
        if prior_dvs:
            union = self._anti_join_dvs(union, table_name, prior_dvs)
        if BUCKET_COL in union.columns:
            # one output file per live bucket keeps routing + pruning
            union = union.repartition(F.col(BUCKET_COL))
        else:
            union = union.coalesce(1)
        entry = self._stage(union, table_name)
        if entry["files"]:
            keep_entries.append(entry)
        opt_dvs, _ = self._prune_dvs(table_name, man, small_paths)
        manifest = {
            "op": "compact",  # bytes moved, no row changes: CDF skips
            "merge_buckets": man.get("merge_buckets"),
            **self._carry_mapping(man),
            **(
                {"primary_keys": man["primary_keys"]}
                if man.get("primary_keys")
                else {}
            ),
            "entries": keep_entries,
            **({"delete_vectors": opt_dvs} if opt_dvs else {}),
        }
        base_entries = man["entries"]
        for _ in range(self._COMMIT_RETRIES):
            try:
                self._commit(table_name, manifest, version + 1)
                if refresh_bloom:
                    self._maybe_refresh_bloom(table_name, man)
                return {
                    "optimized": True,
                    "files_rewritten": len(small_paths),
                    "files_kept": kept_files_n,
                    "bytes_rewritten": bytes_rewritten,
                }
            except ConcurrentCommitError:
                snap2 = self._latest_commit(table_name)
                if snap2 is None:
                    raise
                new_version, new_man = snap2
                for k in (
                    "checks",
                    "column_mapping",
                    "dropped_columns",
                    "merge_buckets",
                    "primary_keys",
                    "added_columns",
                ):
                    if (new_man.get(k) or None) != (manifest.get(k) or None):
                        raise ConcurrentCommitError(
                            f"optimize of {table_name!r} conflicts with a "
                            f"concurrent metadata change ({k!r}); re-run"
                        ) from None
                if (new_man.get("delete_vectors") or None) != (
                    prior_dvs or None
                ):
                    raise ConcurrentCommitError(
                        f"optimize of {table_name!r} conflicts with a "
                        "concurrent deletion-vector change; re-run"
                    ) from None
                new_entries = new_man.get("entries") or []
                base_by = {e["path"]: e for e in base_entries}
                new_by = {e["path"]: e for e in new_entries}
                if any(
                    p not in new_by or new_by[p] != base_by[p]
                    for p in base_by
                ):
                    raise ConcurrentCommitError(
                        f"optimize of {table_name!r} conflicts with a "
                        "concurrent write that modified its read set; "
                        "re-run"
                    ) from None
                # Appends commute UNCONDITIONALLY with bin-packing —
                # the new files just aren't packed this round.
                added = [e for e in new_entries if e["path"] not in base_by]
                txns = dict(manifest.get("txns") or {})
                for app, b in (new_man.get("txns") or {}).items():
                    if txns.get(app, -1) < b:
                        txns[app] = b
                manifest = {
                    **manifest,
                    "entries": list(manifest["entries"]) + added,
                    **({"txns": txns} if txns else {}),
                }
                base_entries = new_entries
                version = new_version
        raise ConcurrentCommitError(
            f"optimize of {table_name!r} lost {self._COMMIT_RETRIES} races"
        )

    def compact(
        self,
        table_name: str,
        *,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        target_files: int | None = None,
        refresh_bloom: bool = False,
    ) -> dict:
        """Rewrite the current snapshot into a single data directory
        (keeping the bucket layout) and publish it as one commit.

        Append-heavy tables accumulate one data dir per sync; manifest
        size and read fan-out grow with dir count, not data size — the
        standard log-structured-table maintenance problem. Compaction
        is the counterpart to vacuum: vacuum reclaims dead dirs,
        compact collapses live ones. The rewrite is all-or-nothing
        (same stage-then-publish protocol), readers on the old snapshot
        are unaffected, and a concurrent writer landing first surfaces
        as :class:`ConcurrentCommitError` (safe to just re-run).

        ``sort_by`` clusters the rewrite on the given columns (Delta's
        ``OPTIMIZE ... ZORDER BY`` niche, linear order): unbucketed
        tables are RANGE-repartitioned so each output file owns a
        disjoint key range, bucketed tables sort within buckets. The
        per-file min/max stats harvested at stage time then become
        selective — :meth:`read_where` on a clustered column skips all
        but the matching files, and Spark's row-group zone maps tighten
        inside them. A compact on a 100 TB table is itself one
        shuffle-and-write job; run it on the maintenance cadence, not
        per sync.
        """
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            return {"compacted": False, "reason": "no snapshot"}
        version, man = snap
        n_before = len(man["entries"])
        if (
            n_before <= 1
            and not sort_by
            and not zorder_by
            and not man.get("delete_vectors")
            and not any(e.get("base") for e in man["entries"])
        ):
            # (outstanding deletion vectors always warrant the rewrite
            # — compact is what materializes them; so do shallow-clone
            # entries referencing another table's files)
            if refresh_bloom:
                # No rewrite needed, but re-covering uncovered files
                # is still useful maintenance on its own.
                self._maybe_refresh_bloom(table_name, man)
            return {"compacted": False, "reason": "already compact"}
        df = self._read_manifest_df(table_name, man)
        # compact rewrites PHYSICAL frames; cluster keys arrive logical
        sort_by = [self._to_physical(man, c) for c in sort_by] if sort_by else sort_by
        zorder_by = (
            [self._to_physical(man, c) for c in zorder_by] if zorder_by else zorder_by
        )
        if zorder_by:
            # Multi-dimensional clustering: files become small
            # hyper-rectangles in zorder_by-space, so predicates on ANY
            # clustered column prune (linear sort_by only serves the
            # first column). See zorder.py for the construction.
            from pyairbyte_spark.zorder import with_zvalue

            df = with_zvalue(df, zorder_by)
            keys = (
                [F.col(BUCKET_COL), F.col("__zvalue")]
                if BUCKET_COL in df.columns
                else [F.col("__zvalue")]
            )
            if target_files:
                df = df.repartitionByRange(target_files, *keys)
            else:
                df = df.repartitionByRange(*keys)
            df = df.sortWithinPartitions(*keys).drop("__zvalue")
        elif sort_by:
            missing = [c for c in sort_by if c not in df.columns]
            if missing:
                raise ValueError(f"sort_by columns not in table: {missing}")
            if BUCKET_COL in df.columns:
                # Keep the bucket layout but RANGE-partition on
                # (bucket, sort keys): each task owns a contiguous
                # (bucket, key) slice, so a bucket's data splits into
                # files with disjoint key ranges — file-level skipping
                # works inside hash buckets, not just across appends.
                # (Plain sortWithinPartitions per bucket would leave
                # ONE full-range file per bucket: zone maps on the
                # cluster key would never prune.)
                keys = [F.col(BUCKET_COL), *[F.col(c) for c in sort_by]]
                if target_files:
                    df = df.repartitionByRange(target_files, *keys)
                else:
                    df = df.repartitionByRange(*keys)
                df = df.sortWithinPartitions(BUCKET_COL, *sort_by)
            else:
                # target_files pins the output file count (an explicit
                # numPartitions also opts the shuffle out of AQE
                # coalescing, which would otherwise merge small tables
                # into one file and erase the zone-map granularity).
                if target_files:
                    df = df.repartitionByRange(target_files, *sort_by)
                else:
                    df = df.repartitionByRange(*sort_by)
                df = df.sortWithinPartitions(*sort_by)
        entry = self._stage(df, table_name)
        # Cluster stamp: maintenance surfaces (e.g. the MinHash index's
        # coverage watermark) read which LIVE entries are clustered on
        # which keys straight from the manifest — vacuum-proof, no
        # history walk. Entries are carried whole by later commits, so
        # the stamp survives appends; any rewrite of the entry drops it.
        if sort_by:
            entry["sorted_by"] = list(sort_by)
        elif zorder_by:
            entry["zordered_by"] = list(zorder_by)
        self._commit(
            table_name,
            {
                "op": "compact",
                "merge_buckets": man.get("merge_buckets"),
                "entries": [entry],
                **(
                    {"primary_keys": man["primary_keys"]}
                    if man.get("primary_keys")
                    else {}
                ),
                **self._carry_mapping(man),
            },
            version + 1,
        )
        if refresh_bloom:
            self._maybe_refresh_bloom(table_name, man)
        return {"compacted": True, "dirs_before": n_before, "dirs_after": 1}

    def compact_entries(
        self,
        table_name: str,
        entry_paths: "list[str]",
        *,
        sort_by: list[str] | None = None,
        target_files: int | None = None,
    ) -> dict:
        """PARTIAL compaction: rewrite ONLY the listed live entries
        into one (optionally sort-clustered) data dir, carrying every
        other entry untouched. This is the maintenance verb for
        append-heavy tables with one large clustered entry and a tail
        of small unclustered appends (the MinHash index's bands table,
        any sorted table under ingest): a full :meth:`compact` rewrites
        the WHOLE table to recluster a 0.1% tail; this rewrites the
        tail. Repeated tail compactions tier up sorted entries — run a
        full compact on the longer cadence to collapse them.

        Rows are bit-identical, so the commit is a ``compact`` for
        every consumer (CDF-silent, follower-skipped, NDV-carried).
        Commit races rebase cheaply: the staged rewrite depends only on
        the LISTED entries (immutable dirs), so a concurrent append
        just rebuilds the manifest; re-staging happens only if a racer
        removed one of the listed entries (a concurrent full compact).

        Returns ``{"compacted", "dirs_in", "dirs_out"}``.
        """
        want = set(entry_paths)
        if not want:
            return {"compacted": False, "reason": "no entries listed"}
        staged_key: frozenset | None = None
        entry: dict | None = None
        last: ConcurrentCommitError | None = None
        for _attempt in range(self._COMMIT_RETRIES):
            snap = self._latest_commit(table_name)
            if snap is None or not snap[1].get("entries"):
                raise FileNotFoundError(
                    f"table {table_name!r} does not exist"
                )
            version, man = snap
            if man.get("delete_vectors"):
                raise ValueError(
                    "compact_entries does not support tables with "
                    "outstanding deletion vectors; run compact() to "
                    "materialize them first"
                )
            picked = [e for e in man["entries"] if e["path"] in want]
            if not picked:
                # every listed entry was superseded by a racer (full
                # compact): its rows live on in the racer's rewrite
                return {"compacted": False, "reason": "entries not live"}
            if any(e.get("base") for e in picked):
                raise ValueError(
                    "compact_entries cannot rewrite shallow-clone "
                    "entries; run compact() (it materializes them)"
                )
            key = frozenset(e["path"] for e in picked)
            if entry is None or staged_key != key:
                sub = {**man, "entries": picked}
                sub.pop("delete_vectors", None)
                df = self._read_manifest_df(table_name, sub)
                phys = [self._to_physical(man, c) for c in (sort_by or [])]
                if phys:
                    keys = (
                        [F.col(BUCKET_COL)]
                        if BUCKET_COL in df.columns
                        else []
                    ) + [F.col(c) for c in phys]
                    if target_files:
                        df = df.repartitionByRange(target_files, *keys)
                    else:
                        df = df.repartitionByRange(*keys)
                    df = df.sortWithinPartitions(*keys)
                entry = self._stage(df, table_name)
                if sort_by:
                    entry["sorted_by"] = list(sort_by)
                staged_key = key
            new_entries = [
                e for e in man["entries"] if e["path"] not in key
            ] + [entry]
            try:
                self._commit(
                    table_name,
                    {
                        "op": "compact",
                        "merge_buckets": man.get("merge_buckets"),
                        "entries": new_entries,
                        **(
                            {"primary_keys": man["primary_keys"]}
                            if man.get("primary_keys")
                            else {}
                        ),
                        **self._carry_mapping(man),
                    },
                    version + 1,
                )
                return {
                    "compacted": True,
                    "dirs_in": len(picked),
                    "dirs_out": 1,
                }
            except ConcurrentCommitError as e:
                last = e
                self._retry_pause(_attempt)
        raise ConcurrentCommitError(
            f"partial compact of {table_name!r} lost "
            f"{self._COMMIT_RETRIES} commit races"
        ) from last

    def verify_table(self, table_name: str, *, deep: bool = False) -> dict:
        """FSCK: audit a table's physical/logical integrity without a
        Spark job — pure metadata I/O, O(files in the checked
        snapshots). Checks, per snapshot (latest visible; every
        readable version with ``deep=True``):

        - the manifest resolves (delta chain intact);
        - every live entry's data dir exists, and every recorded file
          exists with its recorded byte size (a size drift means the
          immutability contract was violated out-of-band);
        - DV sidecar dirs and the bloom-index dir exist when recorded;
        - every txn-group commit below the visible head is DECIDED
          (an interior undecided slot would break the writer
          invariant);
        - the latest pointer is at or behind the true head (staleness
          is benign; pointing past it is not).

        Also counts ORPHAN data dirs (unreferenced by any retained
        commit — vacuum's targets, informational). Returns ``{"ok",
        "issues": [str], "checked_files", "orphan_dirs"}``; readers
        needn't stop on issues (reads fail loudly on their own), this
        is the operator's early-warning surface.
        """
        issues: list[str] = []
        checked = 0
        raw = self._discover_latest(table_name)
        if raw is None:
            return {"ok": False, "issues": ["no commit log"],
                    "checked_files": 0, "orphan_dirs": 0}
        # pointer sanity
        try:
            ptr = json.loads(
                self.io.read_text(
                    os.path.join(
                        self._commits_dir(table_name), self._LATEST_PTR
                    )
                )
            )["version"]
            if ptr > raw:
                issues.append(
                    f"latest pointer {ptr} is ahead of true head {raw}"
                )
        except Exception:
            pass  # absent/corrupt pointer: discovery falls back, benign
        # decided-interior invariant + collect versions to deep-check
        versions: list[int] = []
        vis = self._latest_commit(table_name)
        vis_v = vis[0] if vis else 0
        for v in range(1, raw + 1):
            try:
                cj = self._read_commit_json(table_name, v)
            except FileNotFoundError:
                continue  # vacuumed
            gid = cj.get("txn_group")
            if gid is not None and v < vis_v:
                if self._group_verdict(gid) is None:
                    issues.append(
                        f"commit {v}: interior txn group {gid} undecided"
                    )
            versions.append(v)
        check = (
            [v for v in versions if v == vis_v]
            if not deep
            else [
                v
                for v in versions
                if self._group_verdict(
                    self._read_commit_json(table_name, v).get("txn_group")
                    or ""
                )
                != "abort"
            ]
        )
        referenced: set[str] = set()
        unresolvable: set[int] = set()
        for v in versions:  # ALL retained commits pin their dirs
            try:
                man = self._read_manifest(table_name, v)
            except Exception as e:
                issues.append(f"commit {v}: manifest unresolvable ({e})")
                unresolvable.add(v)
                continue
            for e_ in man.get("entries") or []:
                if not e_.get("base"):
                    referenced.add(e_["path"])
            for d in man.get("delete_vectors") or []:
                if not d.get("base"):
                    referenced.add(d["path"])
            bi = man.get("bloom_index")
            if bi and not bi.get("base"):
                referenced.add(bi["ref"])
        for v in check:
            if v in unresolvable:
                continue  # already reported; FSCK reports, never raises
            try:
                man = self._read_manifest(table_name, v)
            except Exception as e:  # broke between the two passes
                issues.append(f"commit {v}: manifest unresolvable ({e})")
                continue
            for e_ in man.get("entries") or []:
                base = self._entry_base(table_name, e_)
                d = os.path.join(base, e_["path"])
                if not self.io.is_dir(d):
                    issues.append(f"commit {v}: data dir missing: {e_['path']}")
                    continue
                for f in e_.get("files") or []:
                    p = os.path.join(d, f["path"])
                    checked += 1
                    try:
                        size = self.io.file_size(p)
                    except (FileNotFoundError, NotImplementedError):
                        issues.append(
                            f"commit {v}: file missing: "
                            f"{e_['path']}/{f['path']}"
                        )
                        continue
                    if f.get("bytes") and size != f["bytes"]:
                        issues.append(
                            f"commit {v}: size drift "
                            f"{e_['path']}/{f['path']}: recorded "
                            f"{f['bytes']}, on disk {size}"
                        )
            for dv in man.get("delete_vectors") or []:
                if not self.io.is_dir(
                    os.path.join(self._entry_base(table_name, dv), dv["path"])
                ):
                    issues.append(f"commit {v}: DV dir missing: {dv['path']}")
            bi = man.get("bloom_index")
            if bi and not self.io.is_dir(
                os.path.join(bi.get("base") or self.table_path(table_name), bi["ref"])
            ):
                issues.append(f"commit {v}: bloom dir missing: {bi['ref']}")
        orphans = 0
        tp = self.table_path(table_name)
        for name in self.io.list_names(tp):
            if name == self.COMMIT_DIR or name in referenced:
                continue
            if self.io.is_dir(os.path.join(tp, name)):
                orphans += 1
        return {
            "ok": not issues,
            "issues": issues,
            "checked_files": checked,
            "orphan_dirs": orphans,
        }

    def maintenance_plan(
        self,
        table_name: str,
        *,
        max_live_dirs: int = 8,
        max_dv_files: int = 4,
        min_bloom_coverage: float = 0.9,
        max_retained_commits: int = 200,
        max_ref_age_hours: float = 7 * 24.0,
    ) -> list[dict]:
        """Table doctor: inspect ONE snapshot's metadata and return the
        maintenance actions worth running, each as ``{"action",
        "reason"}`` (empty list = healthy). Signals, all O(manifest) —
        no data I/O except the bloom-coverage metadata join:

        - live data dirs > ``max_live_dirs`` → ``compact`` (manifest
          size and read fan-out grow with dir count, not data size);
        - MoR deletion vectors on > ``max_dv_files`` files →
          ``compact`` (every read pays the anti-join until a rewrite
          materializes them);
        - bloom index coverage < ``min_bloom_coverage`` →
          ``refresh_bloom`` (point lookups stop pruning the uncovered
          tail);
        - live files missing harvested sums on a sum-covered table →
          ``build_sum_stats`` (sum/avg pushdowns scan until the
          backfill re-covers the tail);
        - retained commits > ``max_retained_commits`` → ``vacuum``
          (discovery and FSCK walk them; time travel rarely needs
          hundreds);
        - undecided txn prepare at the head older than the resolve
          grace → informational ``resolve`` (the next writer will
          force-abort it; nothing is wedged).

        The cadence driver a cluster deployment would wire this into
        is exactly the reference's sync-time maintenance hooks — here
        it also powers the ``get_maintenance_plan`` MCP tool."""
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        _version, man = snap
        recs: list[dict] = []
        n_dirs = len(man.get("entries") or [])
        if n_dirs > max_live_dirs:
            recs.append(
                {
                    "action": "compact",
                    "reason": f"{n_dirs} live data dirs (> {max_live_dirs}): "
                    "manifest size and read fan-out grow per append",
                }
            )
        dvs = man.get("delete_vectors") or []
        if len(dvs) > max_dv_files:
            recs.append(
                {
                    "action": "compact",
                    "reason": f"deletion vectors on {len(dvs)} files "
                    f"(> {max_dv_files}): every read pays the MoR "
                    "anti-join until a rewrite materializes them",
                }
            )
        if man.get("bloom_index"):
            cov = self.bloom_coverage(table_name)
            if cov and cov["files_total"]:
                frac = cov["files_covered"] / cov["files_total"]
                if frac < min_bloom_coverage:
                    recs.append(
                        {
                            "action": "refresh_bloom",
                            "reason": f"bloom coverage {frac:.0%} "
                            f"(< {min_bloom_coverage:.0%}): "
                            f"{cov['files_uncovered']} live files "
                            "unprunable by point lookups",
                        }
                    )
        # Partial sum-stat coverage: a table that opted into the
        # sum/avg metadata tier (some live file carries a harvested
        # sum) decays back toward scanning as soon as OTHER files lack
        # the stat — one uncovered file in a range sends itself to the
        # scan tier, and rewrites by a non-harvesting writer shed the
        # stat silently. O(manifest), no data I/O.
        sum_cols: set[str] = set()
        live_stats: list[dict] = []
        for e in man.get("entries") or []:
            live = e.get("buckets")
            for f in e.get("files") or []:
                if not _file_live(live, f):
                    continue
                stats = f.get("stats") or {}
                live_stats.append(stats)
                sum_cols.update(
                    c for c, cs in stats.items() if "sum" in cs
                )
        if sum_cols:
            gap = sum(
                1
                for stats in live_stats
                if any(
                    c in stats and "sum" not in stats[c]
                    for c in sum_cols
                )
            )
            if gap:
                recs.append(
                    {
                        "action": "build_sum_stats",
                        "reason": f"{gap} live files missing harvested "
                        f"sums for {sorted(sum_cols)}: sum/avg "
                        "pushdowns scan until the backfill re-covers "
                        "them",
                    }
                )
        try:
            n_commits = sum(
                1
                for n in self.io.list_names(self._commits_dir(table_name))
                if n.endswith(".json") and n[:-5].isdigit()
            )
        except Exception:
            n_commits = 0
        if n_commits > max_retained_commits:
            recs.append(
                {
                    "action": "vacuum",
                    "reason": f"{n_commits} retained commits "
                    f"(> {max_retained_commits}): discovery, FSCK and "
                    "chain resolution walk them",
                }
            )
        raw = self._discover_latest(table_name)
        if raw is not None and raw > snap[0]:
            head = self._read_commit_json(table_name, raw)
            gid = head.get("txn_group")
            if gid is not None and self._group_verdict(gid) is None:
                recs.append(
                    {
                        "action": "resolve",
                        "reason": f"head slot v{raw} is an undecided txn "
                        f"prepare (group {gid}); the next writer "
                        "force-aborts it after the grace window",
                    }
                )
        # Stale named refs: every live branch/tag pins vacuum's
        # retention floor at its fork base / tagged version, so an
        # abandoned audit branch quietly turns retention off. Age is
        # the signal (refs record their creation ts).
        now = int(time.time())
        for rname, ref in self.refs(table_name).items():
            age_h = (now - (ref.get("ts") or now)) / 3600.0
            if age_h < max_ref_age_hours:
                continue
            floor = (
                ref.get("base")
                if ref.get("type") == "branch"
                else ref.get("version")
            )
            verb = (
                "publish_branch or drop_branch"
                if ref.get("type") == "branch"
                else "drop_tag"
            )
            recs.append(
                {
                    "action": "drop_ref",
                    "reason": f"{ref.get('type')} {rname!r} is "
                    f"{age_h:.0f}h old (> {max_ref_age_hours}h) and "
                    f"pins the vacuum floor at v{floor}; {verb} to "
                    "release retention",
                }
            )
        return recs

    def table_columns(self, table_name: str) -> list[str]:
        """The table's LOGICAL column names from manifest metadata
        alone — no Spark job, no parquet footer read (the recorded
        physical schema through the column mapping). Falls back to a
        schema-resolving read only for pre-schema manifests."""
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        man = snap[1]
        sch = _newest_schema(man)
        if sch:
            try:
                phys = [f["name"] for f in json.loads(sch)["fields"]]
                mapping, dropped = self._mapping_of(man)
                added = list((man.get("added_columns") or {}).keys())
                cols = [
                    mapping.get(c, c)
                    for c in phys + [a for a in added if a not in phys]
                    if c not in dropped and c != BUCKET_COL
                ]
                return cols
            except Exception:
                pass
        return [c for c in self.read(table_name).columns]

    def index_inventory(self) -> dict[str, dict]:
        """Discover the store's derived indexes from their table-group
        naming: a ``<name>_meta`` table plus ``<name>_postings``
        (inverted text), ``<name>_bands``+``<name>_sigs``
        (MinHash-LSH), ``<name>_lists``+``<name>_centroids`` (IVF), or
        ``<name>_codes``+``<name>_codebooks`` (PQ). One directory
        listing; no data I/O."""
        tables = set(self.list_tables())
        out: dict[str, dict] = {}
        for t_ in sorted(tables):
            if not t_.endswith("_meta"):
                continue
            base = t_[: -len("_meta")]
            if f"{base}_postings" in tables:
                out[base] = {"kind": "text"}
            elif f"{base}_bands" in tables and f"{base}_sigs" in tables:
                out[base] = {"kind": "minhash"}
            elif f"{base}_lists" in tables and f"{base}_centroids" in tables:
                out[base] = {"kind": "ivf"}
            elif f"{base}_codes" in tables and f"{base}_codebooks" in tables:
                out[base] = {"kind": "pq"}
        return out

    def store_maintenance_plan(
        self,
        *,
        tombstone_max: float = 0.2,
        unclustered_max: float = 0.5,
        txn_decisions_max: int = 10_000,
        **table_thresholds,
    ) -> dict:
        """STORE-WIDE doctor: every per-table :meth:`maintenance_plan`,
        the derived indexes' debt signals (tombstone fraction from the
        sync layer's retraction appends → ``fold_*_index``; stale
        clustering → ``refresh_*_index``), and the txn-group decision
        backlog (→ :meth:`vacuum_txn_decisions`) — ONE call surfacing
        all maintenance a cadence job should consider, MCP-exposed as
        ``get_store_maintenance_plan``. Returns ``{"tables": {name:
        [recs]}, "indexes": {name: {"kind", "actions", "health"}},
        "txn_decisions": {"files", "actions"}}`` where every action is
        ``{"action", "reason"}`` (empty = healthy). Index health reads
        one aggregate over the index table; everything else is
        metadata."""
        plans: dict[str, list] = {}
        for t_ in self.list_tables():
            try:
                recs = self.maintenance_plan(t_, **table_thresholds)
            except FileNotFoundError:
                continue
            if recs:
                plans[t_] = recs
        indexes: dict[str, dict] = {}
        for name, info in self.index_inventory().items():
            kind = info["kind"]
            actions: list[dict] = []
            health: dict = {}
            try:
                if kind == "text":
                    from pyairbyte_spark.operators.search import (
                        text_index_health,
                    )

                    health = text_index_health(
                        self,
                        name,
                        tombstone_max=tombstone_max,
                        unclustered_max=unclustered_max,
                    )
                elif kind == "minhash":
                    from pyairbyte_spark.operators.dedup import (
                        minhash_index_health,
                    )

                    health = minhash_index_health(
                        self,
                        name,
                        tombstone_max=tombstone_max,
                        unclustered_max=unclustered_max,
                    )
                elif kind == "ivf":
                    from pyairbyte_spark.operators.similarity import (
                        ivf_index_debt,
                    )

                    health = ivf_index_debt(self, name)
                elif kind == "pq":
                    from pyairbyte_spark.operators.similarity import (
                        pq_index_debt,
                    )

                    health = pq_index_debt(self, name)
            except Exception as exc:  # noqa: BLE001 — doctor reports, never raises
                health = {"error": str(exc)}
            debt = health.get("tombstone_fraction") or 0.0
            if debt > tombstone_max:
                actions.append(
                    {
                        "action": f"fold_{kind}_index",
                        "reason": f"tombstone debt {debt:.1%} "
                        f"(> {tombstone_max:.0%}): sync retractions tax "
                        "every probe until folded",
                    }
                )
            cov = health.get("coverage")
            if cov is not None and (1.0 - cov) > unclustered_max:
                actions.append(
                    {
                        "action": f"refresh_{kind}_index",
                        "reason": f"stale clustering: {1.0 - cov:.1%} of "
                        f"files unclustered (> {unclustered_max:.0%}): "
                        "probes widen until the tail reclusters",
                    }
                )
            for issue in health.get("issues") or []:
                if "hot band" in issue:  # data property, not repairable
                    actions.append(
                        {"action": "review_ingest", "reason": issue}
                    )
            indexes[name] = {"kind": kind, "actions": actions, **(
                {"health": health} if health else {}
            )}
        gdir = os.path.join(self.root, self._TXN_GROUP_DIR)
        try:
            n_decisions = sum(
                1 for n in self.io.list_names(gdir) if n.endswith(".json")
            )
        except Exception:
            n_decisions = 0
        txn_actions: list[dict] = []
        if n_decisions > txn_decisions_max:
            txn_actions.append(
                {
                    "action": "vacuum_txn_decisions",
                    "reason": f"{n_decisions} txn-group decision files "
                    f"(> {txn_decisions_max}): the object-store listing "
                    "ceiling on metadata nothing reads anymore",
                }
            )
        return {
            "tables": plans,
            "indexes": indexes,
            "txn_decisions": {
                "files": n_decisions,
                "actions": txn_actions,
            },
        }

    def _index_repair_fn(self, action: str, index_name: str):
        """Resolve a doctor-prescribed index repair verb to a callable
        (None when the verb isn't an executable repair)."""
        from pyairbyte_spark.operators import dedup, search, similarity

        verbs = {
            "fold_text_index": search.fold_text_index,
            "refresh_text_index": search.refresh_text_index,
            "fold_minhash_index": dedup.fold_minhash_index,
            "refresh_minhash_index": dedup.refresh_minhash_index,
            "fold_ivf_index": similarity.fold_ivf_index,
            "fold_pq_index": similarity.fold_pq_index,
        }
        fn = verbs.get(action)
        if fn is None:
            return None
        return lambda: fn(self, index_name)

    def _apply_refresh_bloom(self, table_name: str) -> dict:
        """The standalone ``refresh_bloom`` repair: re-cover only the
        files the index misses (``only_missing=True`` — O(uncovered
        tail), not O(table)) using the recorded columns/fpr."""
        snap = self._latest_commit(table_name)
        if snap is None:
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        self._maybe_refresh_bloom(table_name, snap[1])
        cov = self.bloom_coverage(table_name) or {}
        return {"refreshed": True, **cov}

    def apply_maintenance_plan(
        self,
        plan: dict | None = None,
        *,
        dry_run: bool = False,
        vacuum_keep_commits: int = 25,
        **thresholds,
    ) -> dict:
        """EXECUTE the store-wide doctor's prescriptions — the repair
        half of :meth:`store_maintenance_plan`, which only names the
        verbs. ONE call heals a sick store: per-table compactions
        (folding a co-prescribed bloom re-cover into the same rewrite
        via ``compact(refresh_bloom=True)``), standalone bloom
        re-covers (O(uncovered tail)), vacuums, the four index
        families' folds and clustering refreshes, and the txn-group
        decision vacuum. MCP-exposed as ``apply_store_maintenance``.

        - ``plan``: a dict previously returned by
          :meth:`store_maintenance_plan` — pass one to apply exactly
          what an operator reviewed; recomputed fresh when None
          (``**thresholds`` forwarded);
        - ``dry_run=True`` reports every action as ``planned`` and
          runs NOTHING — the review artifact for a cadence job;
        - judgment calls are NEVER auto-applied: ``drop_ref``
          (dropping a branch/tag discards audit lineage),
          ``review_ingest`` (hot-band skew is a data property, not a
          repair) and ``resolve`` (self-healing — the next writer
          force-aborts the undecided prepare after the grace window)
          are reported as ``skipped`` with the reason.

        Race-safety with concurrent syncs/writers comes from the verbs
        themselves: index folds ride the guarded replace (a lost race
        after retries reports ``folded: False`` — the cadence re-runs),
        compact/vacuum use the standard commit rebase, and every
        action is ISOLATED — one failure records ``failed`` and the
        rest still run (a doctor that stops at the first sick organ
        heals nothing). Returns ``{"dry_run", "actions": [{"target",
        "action", "status", ...}]}`` with status one of
        applied/planned/skipped/failed."""
        if plan is None:
            plan = self.store_maintenance_plan(**thresholds)
        out: list[dict] = []

        def _run(target: str, action: str, fn, note: str | None = None):
            rec: dict = {"target": target, "action": action}
            if note:
                rec["note"] = note
            if dry_run:
                out.append({**rec, "status": "planned"})
                return
            try:
                rec["result"] = fn()
                out.append({**rec, "status": "applied"})
            except Exception as exc:  # noqa: BLE001 — isolate actions
                out.append({**rec, "status": "failed", "error": str(exc)})

        def _skip(target: str, action: str, why: str):
            out.append(
                {
                    "target": target,
                    "action": action,
                    "status": "skipped",
                    "note": why,
                }
            )

        for t_, recs in (plan.get("tables") or {}).items():
            acts = {r["action"] for r in recs}
            if "compact" in acts:
                rb = "refresh_bloom" in acts
                _run(
                    t_,
                    "compact",
                    lambda t=t_, rb=rb: self.compact(t, refresh_bloom=rb),
                    note=(
                        "bloom re-covered in the same rewrite" if rb else None
                    ),
                )
            elif "refresh_bloom" in acts:
                _run(
                    t_,
                    "refresh_bloom",
                    lambda t=t_: self._apply_refresh_bloom(t),
                )
            if "build_sum_stats" in acts:
                # after any compact above: the rewrite's fresh files
                # are exactly the ones the backfill must re-cover
                _run(
                    t_,
                    "build_sum_stats",
                    lambda t=t_: self.build_sum_stats(t),
                )
            if "vacuum" in acts:
                _run(
                    t_,
                    "vacuum",
                    lambda t=t_: {
                        "removed": len(
                            self.vacuum(t, keep_commits=vacuum_keep_commits)
                        ),
                        "keep_commits": vacuum_keep_commits,
                    },
                )
            if "resolve" in acts:
                _skip(
                    t_,
                    "resolve",
                    "self-healing: the next writer force-aborts the "
                    "undecided prepare after the grace window",
                )
            if "drop_ref" in acts:
                _skip(
                    t_,
                    "drop_ref",
                    "dropping a branch/tag discards audit lineage — "
                    "operator decision (publish_branch/drop_branch/"
                    "drop_tag)",
                )
        for name, info in (plan.get("indexes") or {}).items():
            for r in info.get("actions") or []:
                act = r["action"]
                if act == "review_ingest":
                    _skip(
                        name,
                        act,
                        "hot-band skew is a data property, not a "
                        "repair verb",
                    )
                    continue
                fn = self._index_repair_fn(act, name)
                if fn is None:
                    _skip(name, act, "no executable repair for this verb")
                else:
                    _run(name, act, fn)
        for r in (plan.get("txn_decisions") or {}).get("actions") or []:
            if r["action"] == "vacuum_txn_decisions":
                _run(
                    "<store>",
                    "vacuum_txn_decisions",
                    lambda: self.vacuum_txn_decisions(),
                )
        return {"dry_run": dry_run, "actions": out}

    def rebucket_table(
        self, table_name: str, n_buckets: int | None
    ) -> dict:
        """BUCKET-LAYOUT EVOLUTION: rewrite the snapshot with a new
        merge-bucket count (or ``None`` to un-bucket) and record the
        new layout in the same commit. The layout N is fixed at first
        write and every incremental merge hashes with it — a table
        whose key cardinality grew 100× is stuck with oversized
        buckets (each incremental merge rewrites 1/N of the table)
        until this one-shuffle migration. Rows are bit-identical, so
        the commit is a ``compact`` for every consumer: CDF emits no
        changes, followers skip it, NDV stats carry.

        Like compact, the rewrite materializes outstanding deletion
        vectors and foreign (clone-base) references. All later merges,
        appends, and reads pick the new N up from the manifest —
        nothing else changes. Returns ``{"rebucketed", "from", "to"}``.

        Concurrency: a commit race re-plans against the winner's
        snapshot and retries (standard rebase loop) — the migration is
        a one-shuffle job too expensive to discard on a lost race, and
        unlike appends the staged data is snapshot-specific, so the
        rebase must re-stage (the loser's dir is vacuum garbage).
        """
        plan = self._plan_rebucket(table_name, n_buckets)
        if plan.get("skipped"):
            return {"rebucketed": False, "from": plan["from"], "to": plan["to"]}
        res = self._commit_planned(
            table_name,
            plan,
            lambda: self._plan_rebucket(table_name, n_buckets),
        )
        if res.get("skipped"):  # a racer already migrated the layout
            return {"rebucketed": False, "from": plan["to"], "to": plan["to"]}
        return {"rebucketed": True, "from": plan["from"], "to": plan["to"]}

    def _plan_rebucket(self, table_name: str, n_buckets: int | None) -> dict:
        """Stage the re-hashed rewrite + build its manifest against
        the current snapshot WITHOUT claiming a slot (the plan half;
        see :meth:`_commit_planned` / :meth:`MultiTableTxn.rebucket_table`).
        ``{"skipped": True}`` when the layout already matches."""
        snap = self._latest_commit(table_name)
        if snap is None or not snap[1].get("entries"):
            raise FileNotFoundError(f"table {table_name!r} does not exist")
        version, man = snap
        pks = man.get("primary_keys")
        if n_buckets and not pks:
            raise ValueError(
                f"cannot bucket {table_name!r}: no primary keys "
                "recorded (bucket routing hashes the merge keys)"
            )
        old_n = man.get("merge_buckets") or None
        new_n = int(n_buckets) if n_buckets else None
        if old_n == new_n:
            return {
                "skipped": True,
                "version": version,
                "from": old_n,
                "to": new_n,
            }
        df = self._read_manifest_df(table_name, man)
        if BUCKET_COL in df.columns:
            df = df.drop(BUCKET_COL)
        if new_n:
            df = self._with_bucket(df, list(pks), new_n)
        entry = self._stage(df, table_name)
        return {
            "base_version": version,
            "from": old_n,
            "to": new_n,
            "manifest": {
                "op": "compact",  # rows identical: no-change for
                # CDF/followers/NDV; the layout is manifest metadata
                "rebucketed_from": old_n,
                "merge_buckets": new_n,
                "entries": [entry],
                **({"primary_keys": pks} if pks else {}),
                **self._carry_mapping(man),
            },
        }
