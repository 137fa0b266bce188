"""One benchmark run: the ELT lifecycle of four op families, their
correctness checks and the metrics computed from them.

One closed-loop client issues every op; Spark runs ``local[4]``. The op
families (named after the layers they stress):

- ``sync_full``        a full sync of a two-stream typed source into a
                       fresh default ``SparkCache`` (pump + JSON load);
- ``sync_incremental`` a seeded upsert batch merged into one commit-log
                       table, with its cursor state (merge + commit);
- ``serve_mixed``      point / range / aggregate / time-travel reads and
                       small DML on that table (planning, per-op jobs);
- ``curate_corpus``    near-dup and exact-dup mining and a BM25 index
                       build over a synthetic corpus, and index probes.

After set-up and the untimed warm-up ops (``WARM_OPS``), all timed ops
run in one fixed interleaved order. A workload fixes the input
properties (key skew, update share, which versions time travel
reaches); the seed fixes the data. Op counts depend on ``--seconds``
only, so the same arguments always do the same work.

Not reached at these sizes: the store's distributed manifest venue
(checkpoint sidecars above ``DISTRIBUTED_MANIFEST_MIN_BYTES`` = 8 MiB),
any non-local ``FileIO`` and, at 24 s, the manifest's forced checkpoint
(every ``CHECKPOINT_INTERVAL`` = 20th version; the served table ends at
version 14).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

from pyairbyte_spark.cache import SparkCache
from pyairbyte_spark.operators.dedup import exact_dup_groups, minhash_lsh_candidates
from pyairbyte_spark.operators.search import build_text_index, text_index_search
from pyairbyte_spark.progress import ProgressTracker

from perfbench.data import (
    EPOCH_US,
    LedgerModel,
    corpus,
    full_sync_source,
    incremental_source,
    ledger_batch,
    pick_keys,
    sync_streams,
)
from perfbench.tracing import (
    FILEIO_MUTATING,
    TracedCache,
    TracedStateWriter,
    Tracer,
    job_stats,
    self_times,
)

PHASES = ("sync_full", "sync_incremental", "serve_mixed", "curate_corpus")
NEAR_DUP_RECALL_FLOOR = 0.9
NEAR_DUP_FRAC = 0.04  # corpus share of edited copies of another doc
EXACT_DUP_FRAC = 0.01  # corpus share of verbatim copies
MERGE_BUCKETS = 8
# FileIO ops reported per op for the ledger-table families: the ones the
# commit protocol and manifest reads issue.
FILEIO_REPORTED = ("read_text", "write_text", "put_if_absent", "exists",
                   "list_files", "open_input")
TABLE = "ledger"


@dataclass(frozen=True)
class Workload:
    why: str
    key_zipf: float  # 0 = uniform key choice
    update_frac: float  # share of each upsert batch that rewrites a PK
    travel_to: str  # "previous": the version before the head; "oldest": the first ones


# The skew and update shares are assumptions, not measured traffic: one
# workload concentrates upserts and reads on few keys (hot_keys) and one
# spreads them evenly and mostly inserts (uniform_keys), so that a change
# sensitive to key skew or to the insert/update mix moves one of them.
WORKLOADS = {
    "hot_keys": Workload(
        "Zipf-skewed, update-heavy upserts, lookups and DML; time travel to the "
        "previous version, inside the store's 8-entry manifest cache",
        key_zipf=1.1, update_frac=0.8, travel_to="previous",
    ),
    "uniform_keys": Workload(
        "uniform, insert-heavy upserts, lookups and DML; time travel to the "
        "table's first versions, outside the store's 8-entry manifest cache",
        key_zipf=0.0, update_frac=0.3, travel_to="oldest",
    ),
}


@dataclass(frozen=True)
class Sizes:
    sync_records: int  # per stream, per full sync
    syncs: int
    base_rows: int
    tick_rows: int
    ticks: int
    serve_ops: dict  # kind -> count
    docs: int
    doc_words: int
    vocab: int
    curate_passes: int
    searches: int


def sizes(seconds: int, scale: float = 1.0) -> Sizes:
    """Timed work per op kind, besides the ``WARM_OPS``. Counts
    grow with ``seconds``, calibrated so the timed operations take about
    that long on a 4-core machine (their checks add about a fifth);
    ``scale`` shrinks the data for the self-test."""

    def n(per_s: float, lo: int) -> int:
        return max(lo, int(round(per_s * seconds)))

    return Sizes(
        # 25k records per stream: the pump and the JSON load, not the
        # fixed cost of a sync's two Spark jobs (about 0.5 s), take most
        # of a sync.
        sync_records=max(200, int(25_000 * scale)),
        syncs=n(1 / 8, 2),
        base_rows=max(500, int(8_000 * scale)),
        tick_rows=max(20, int(400 * scale)),
        ticks=n(1 / 3, 3),
        # Most serve ops are lookups: lookup_p50_s is the gated serving
        # latency; the other kinds run for coverage and correctness. Two
        # ops of a kind is the least that lets a traced run trace one and
        # time one untraced.
        serve_ops={"lookup": n(2 / 3, 3), "count": n(1 / 12, 2), "agg": n(1 / 12, 2),
                   "scan": n(1 / 12, 2), "travel": n(1 / 12, 2), "delete": n(1 / 12, 2),
                   "update": n(1 / 12, 2)},
        # 3k docs: the per-doc kernel work is about a fifth of a pass;
        # the rest is the fixed cost of its twelve Spark jobs.
        docs=max(300, int(3_000 * scale)),
        doc_words=40,
        vocab=max(500, int(5_000 * scale)),
        curate_passes=n(1 / 8, 2),
        searches=n(1 / 12, 2),
    )


# Untimed warm-up ops before the timed ones (their time is part of
# ``setup_s``), for the kinds whose first op costs several later ones
# (curation starts the Python workers; the first full-size sync compiles
# its code, and a small warm-up batch leaves the first timed sync about
# 0.7 s slower) or whose few timed samples one cold op would skew
# (ticks). The first serve op of each kind pays code generation once; it
# is timed and moves that kind's median by at most one rank, the same in
# every run.
WARM_OPS = {"curate": 1, "search": 1, "tick": 1, "sync": 1}


def interleave(counts: dict[str, int]) -> list[str]:
    """A fixed, evenly interleaved order of ``counts[k]`` ops of each
    kind (kind k's j-th op sits at fraction (j + 0.5) / counts[k]), so
    every seed sees the same sequence of op kinds."""
    slots = [((j + 0.5) / c, i, k) for i, (k, c) in enumerate(counts.items())
             for j in range(c)]
    return [k for _, _, k in sorted(slots)]


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


class Run:
    """One benchmark run: phases in order, then metrics."""

    def __init__(self, spark, workdir: str, workload: str, seed: int,
                 sz: Sizes, trace: bool, *, corrupt: tuple[str, ...] = ()) -> None:
        self.spark = spark
        self.workdir = workdir
        self.workload = workload
        self.w = WORKLOADS[workload]
        self.seed = seed
        self.sz = sz
        self.tracer = Tracer(trace, spark)
        # Self-test hook: falsify the first checked answer of each kind.
        self.corrupt = set(corrupt)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.facts: dict[str, float] = {}
        self._n_of_kind: dict[str, int] = defaultdict(int)

    def run(self) -> None:
        """Set up, warm every op kind, run the timed schedule, check the
        final state; wall time per step goes to ``phase_s``."""
        self.phase_s = {}
        for step in (self.setup, self.prepare, self.warm_up, self.timed, self.finish):
            t0 = time.perf_counter()
            step()
            self.phase_s[step.__name__] = time.perf_counter() - t0

    # -- helpers -------------------------------------------------------------

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def new_cache(self, name: str, **kwargs) -> SparkCache:
        d = self.path(name)
        shutil.rmtree(d, ignore_errors=True)
        if self.tracer.enabled:
            return TracedCache(self.spark, d, self.tracer, **kwargs)
        return SparkCache(self.spark, d, **kwargs)

    def read_kwargs(self, cache, source) -> dict:
        if self.tracer.enabled:
            return {
                "state_writer": TracedStateWriter(cache, source.name, self.tracer),
                "progress": ProgressTracker(),
            }
        return {}

    def op(self, phase: str, kind: str, fn, check=None):
        """Run one closed-loop operation. ``fn`` returns ``(answer, df)``;
        ``df`` (may be None) is the DataFrame whose query planning is
        charged to the op. The first ``WARM_OPS[kind]`` ops of a kind
        warm up: they are checked but neither timed nor traced. In a traced
        run, timed ops of a kind alternate untraced, traced, traced,
        untraced, ... so traced and untraced latencies come from the same
        stretch of the run and a warming trend cancels out. Returns the
        answer (None on failure)."""
        n = self._n_of_kind[kind] - WARM_OPS.get(kind, 0)
        self._n_of_kind[kind] += 1
        timed = n >= 0
        o = self.tracer.begin(phase, kind, traced=timed and n % 4 in (1, 2), timed=timed)
        try:
            answer, df = fn()
        except Exception:  # one failed op is counted; the run goes on
            self.tracer.end(o)
            self.attempted += 1
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.tracer.end(o, df)
        if timed:
            self.samples[kind].append(o.wall)
        self.attempted += 1
        if check is not None:
            if kind in self.corrupt:
                self.corrupt.discard(kind)
                answer = _falsify(kind, answer)
            if answer is None or not _safe_check(check, answer):
                self.failed += 1
                print(f"perfbench: wrong answer for {phase}/{kind} op {o.op_id}",
                      file=sys.stderr)
        return answer

    def check(self, name: str, ok_fn) -> None:
        """A correctness check that is not tied to one operation."""
        self.attempted += 1
        if not _safe_check(lambda _: ok_fn(), None):
            self.failed += 1
            print(f"perfbench: check failed: {name}", file=sys.stderr)

    # -- warm-up and setup ---------------------------------------------------

    def setup(self) -> None:
        """Land the seeded base table into a fresh commit-log cache. It
        is the run's first Spark work, so it pays the cold start."""
        rng = self.rng(1)
        self.model = LedgerModel(
            self.sz.base_rows + (WARM_OPS["tick"] + self.sz.ticks) * self.sz.tick_rows)
        base = ledger_batch(rng, self.model, self.sz.base_rows, 0.0, 0.0, EPOCH_US)
        self.model.apply(base)
        self.src_inc = src = incremental_source()
        src.batch = [base]
        src.state = {TABLE: {"updated_at": base.columns["updated_at"][-1]}}
        self.clock_us = EPOCH_US + 10**9
        self.cache = self.new_cache("ledger", table_format="commitlog",
                                    merge_buckets=MERGE_BUCKETS)
        src.read(self.cache)
        self.store = self.cache.store
        self.table = self.cache.table_name(TABLE)
        v = self.store.latest_version(self.table)
        self.model.fingerprints[v] = self.model.fingerprint()
        self.versions = [v]
        self.check("base table matches model", self._table_matches_model)

    # -- inputs for the other phases -------------------------------------------

    def prepare(self) -> None:
        import duckdb
        import pandas as pd

        sz = self.sz
        self.src_full = full_sync_source()
        self.src_full.batch = sync_streams(self.rng(2), sz.sync_records)
        self.facts["sync_records"] = sum(len(s) for s in self.src_full.batch)
        self.tick_rng = self.rng(3)
        self.serve_rng = self.rng(4)
        c = self.corpus = corpus(
            self.rng(5), sz.docs, sz.doc_words, sz.vocab, 1.1, NEAR_DUP_FRAC,
            EXACT_DUP_FRAC, WARM_OPS["search"] + sz.searches)
        self.facts["corpus_docs"] = sz.docs
        pdf = pd.DataFrame({"doc_id": c.ids, "text": c.texts})
        self.docs = self.spark.createDataFrame(pdf)
        self.index_store = self.new_cache("curate", table_format="commitlog").store
        self.duck = duckdb.connect()
        self.duck.register("docs", pdf)
        self.n_syncs = 0

    # -- the schedule --------------------------------------------------------

    def warm_up(self) -> None:
        """The untimed warm-up ops, curation first (it builds the index
        the searches probe)."""
        for kind, n in WARM_OPS.items():
            for _ in range(n):
                self.do(kind)

    def timed(self) -> None:
        """Every timed op of the run in one fixed interleaved order, so
        each metric samples the whole run rather than one stretch of it
        (a slow stretch of the machine then moves every median a little
        instead of one median a lot)."""
        sz = self.sz
        counts = {"sync": sz.syncs, "tick": sz.ticks, "curate": sz.curate_passes,
                  "search": sz.searches, **sz.serve_ops}
        for kind in interleave(counts):
            self.do(kind)
        self.samples["dml"] = self.samples.pop("delete", []) + self.samples.pop("update", [])

    def do(self, kind: str) -> None:
        if kind == "sync":
            self.sync()
        elif kind == "tick":
            self.tick()
        elif kind in ("curate", "search"):
            getattr(self, kind)()
        else:
            self.serve(kind)

    def finish(self) -> None:
        """Final-state checks, and the served table's live snapshot bytes
        (its data files as of the last commit) per live row."""
        self.check("table equals the latest-per-PK model after ticks and DML",
                   self._table_matches_model)
        src = self.src_inc
        self.check("stored cursor equals the last tick's", lambda: (
            self.cache.get_state_provider(src.name).get_stream_state(TABLE).state
            == src.state[TABLE]))
        self.facts["table_version"] = self.versions[-1]
        live_bytes = self.store.table_stats(self.table)["bytes"]
        self.facts["store_bytes_per_row"] = live_bytes / int(self.model.live.sum())
        self.facts["manifest.log_bytes"] = dir_bytes(
            os.path.join(self.store.table_path(self.table), "_commits"))
        self.duck.close()

    # -- sync_full -----------------------------------------------------------

    def _read(self, src, cache) -> None:
        """``src.read`` into ``cache``; in a traced op, with a traced state
        writer and the source/pump split recorded."""
        src.gen_s = 0.0
        kwargs = self.read_kwargs(cache, src)
        with self.tracer.span("processor.read"):
            src.read(cache, **kwargs)
        self.tracer.add("sources.gen_s", src.gen_s)
        if "progress" in kwargs:
            self.tracer.add("processor.staged_bytes", kwargs["progress"].total_bytes_read)

    def sync(self) -> None:
        src = self.src_full
        cache = self.new_cache(f"full-{self.n_syncs}")
        self.n_syncs += 1

        def sync():
            self._read(src, cache)
            return cache, None

        self.op("sync_full", "sync", sync,
                lambda c: all(_stream_matches(c, s) for s in src.batch))
        shutil.rmtree(cache.warehouse_dir, ignore_errors=True)

    # -- sync_incremental ----------------------------------------------------

    def tick(self) -> None:
        src, cache = self.src_inc, self.cache
        self.clock_us += 10**9
        batch = ledger_batch(self.tick_rng, self.model, self.sz.tick_rows,
                             self.w.update_frac, self.w.key_zipf, self.clock_us)
        src.batch = [batch]
        src.state = {TABLE: {"updated_at": batch.columns["updated_at"][-1]}}

        def tick():
            self._read(src, cache)
            return None, None

        self.op("sync_incremental", "tick", tick)
        self.model.apply(batch)
        self._record_version()

    def _record_version(self) -> None:
        v = self.store.latest_version(self.table)
        self.model.fingerprints[v] = self.model.fingerprint()
        self.versions.append(v)

    def _table_matches_model(self) -> bool:
        got = _ledger_arrow(self.store.read(self.table))
        return _rows_equal(got, self.model, self.model.live_ids())

    # -- serve_mixed ---------------------------------------------------------

    def serve(self, kind: str) -> None:
        rng, m, store, t = self.serve_rng, self.model, self.store, self.table
        live = m.live_ids()
        if kind == "lookup":
            key = int(live[pick_keys(rng, len(live), 1, self.w.key_zipf)[0]])
            self.op("serve_mixed", kind,
                    lambda: _df_arrow(store.read_where(t, [("id", "=", key)])),
                    lambda got: _rows_equal(got, m, np.array([key])))
        elif kind in ("count", "agg", "scan"):
            width = max(1, m.next_id // 100)  # ~1% of the key space
            lo = int(rng.integers(0, max(1, m.next_id - width)))
            preds = [("id", ">=", lo), ("id", "<", lo + width)]
            sel = live[(live >= lo) & (live < lo + width)]
            if kind == "count":
                self.op("serve_mixed", kind, lambda: (store.count_where(t, preds), None),
                        lambda r: r["count"] == len(sel))
            elif kind == "agg":
                aggs = [("sum", "amount"), ("max", "qty"), ("count", "*")]
                self.op("serve_mixed", kind, lambda: (store.agg_where(t, aggs, preds), None),
                        lambda r: _agg_matches(r["aggs"], m, sel))
            else:
                self.op("serve_mixed", kind, lambda: _df_arrow(store.read_where(t, preds)),
                        lambda got: _rows_equal(got, m, sel))
        elif kind == "travel":
            vs = self.versions
            if self.w.travel_to == "previous":
                v = vs[-2] if len(vs) > 1 else vs[-1]
            else:  # round-robin over the first four versions
                v = vs[self._n_of_kind["travel"] % min(4, len(vs))]

            def travel():
                df = store.read_version(t, v).selectExpr(
                    "count(*) AS n", "sum(qty) AS q", "sum(amount) AS a")
                return df.collect()[0], df

            self.op("serve_mixed", kind, travel,
                    lambda r: (r["n"], r["q"] or 0, _cents(r["a"])) == m.fingerprints[v])
        else:
            key = int(live[pick_keys(rng, len(live), 1, self.w.key_zipf)[0]])
            if kind == "delete":
                def fn():
                    return store.delete_where(t, [("id", "=", key)]), None
            else:
                def fn():
                    return store.update_where(t, [("id", "=", key)], {"qty": "qty + 1"}), None
            if self.op("serve_mixed", kind, fn) is not None:
                if kind == "delete":
                    m.live[key] = False
                else:
                    m.qty[key] += 1
                self._record_version()

    # -- curate_corpus -------------------------------------------------------

    def curate(self) -> None:
        tr, docs, c = self.tracer, self.docs, self.corpus

        def curate():
            with tr.span("operators.minhash"):
                pairs = minhash_lsh_candidates(docs, "text", "doc_id").select(
                    "id_a", "id_b").toArrow()
            with tr.span("operators.exact_groups"):
                groups = exact_dup_groups(docs, "text", "doc_id").filter(
                    "n_docs > 1").toArrow()
            with tr.span("operators.index_build"):
                build_text_index(docs, self.index_store, "corpus_idx")
            return (pairs, groups), None

        def curated_ok(ans) -> bool:
            pairs, groups = ans
            found = set(zip(pairs.column("id_a").to_pylist(),
                            pairs.column("id_b").to_pylist()))
            recall = sum(p in found for p in c.near_pairs) / max(1, len(c.near_pairs))
            self.facts["near_dup_recall"] = recall
            keepers = sorted(groups.column("keeper_id").to_pylist())
            return (recall >= NEAR_DUP_RECALL_FLOOR
                    and keepers == sorted(a for a, _ in c.exact_pairs)
                    and sum(groups.column("n_docs").to_pylist()) == 2 * len(c.exact_pairs))

        self.op("curate_corpus", "curate", curate, curated_ok)

    def search(self) -> None:
        terms = self.corpus.probes[self._n_of_kind["search"]]

        def search():
            with self.tracer.span("operators.search"):
                df = text_index_search(self.index_store, "corpus_idx", terms)
                return df.toArrow(), df

        self.op("curate_corpus", "search", search,
                lambda got: _bm25_matches(got, self.duck, terms))

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, rss_mb: float, spark_start_s: float
                   ) -> dict[str, tuple[float, str]]:
        """``setup_s`` is everything before the first timed op: Spark
        start, the cold landing of the base table, input generation and
        the warm-up ops, so cold-start and code-generation costs count.
        ``sync_records_per_s`` is records landed over seconds spent in
        the timed syncs."""
        s = self.samples
        setup_s = spark_start_s + sum(self.phase_s[k] for k in ("setup", "prepare", "warm_up"))
        return {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "sync_records_per_s": (self.facts["sync_records"] * len(s["sync"]) / sum(s["sync"]),
                                   "1/s"),
            "tick_p50_s": (percentile(s["tick"], 50), "s"),
            "store_bytes_per_row": (self.facts["store_bytes_per_row"], "B"),
            "lookup_p50_s": (percentile(s["lookup"], 50), "s"),
            "curate_s": (percentile(s["curate"], 50), "s"),
        }

    def sample_counts(self) -> dict[str, int]:
        return {k: len(v) for k, v in self.samples.items()}

    def ungated(self) -> dict[str, float]:
        """Latencies reported as provenance, not as gated metrics: with a
        handful of samples per run (and fewer than ten beyond a p90)
        their run-to-run spread on a shared 4-core host exceeds the
        largest bound a gated metric may have."""
        s = self.samples
        return {
            "tick_p90_s": percentile(s["tick"], 90),
            "lookup_p90_s": percentile(s["lookup"], 90),
            "agg_p50_s": percentile(s["agg"] + s["count"], 50),
            "scan_p50_s": percentile(s["scan"], 50),
            "travel_p50_s": percentile(s["travel"], 50),
            "dml_p50_s": percentile(s["dml"], 50),
            "search_p50_s": percentile(s["search"], 50),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        ops = [o for o in self.tracer.ops if o.traced]
        jobs = job_stats(self.spark, ops)
        spans_by_op: dict[int, list] = defaultdict(list)
        for sp in self.tracer.spans:
            spans_by_op[sp[5]].append(sp)
        out: dict[str, tuple[float, str]] = {}
        for phase in PHASES:
            p_ops = [o for o in ops if o.phase == phase]
            n = max(1, len(p_ops))
            tot: dict[str, float] = defaultdict(float)
            span_s: dict[str, float] = defaultdict(float)
            span_n: dict[str, int] = defaultdict(int)
            for o in p_ops:
                for k, v in o.counters.items():
                    tot[k] += v
                sp = spans_by_op[o.op_id]
                for _, name, start, end, _, _ in sp:
                    span_s[name] += end - start
                    span_n[name] += 1
                for name, v in self_times(sp).items():
                    tot[f"self.{name}"] += v
            pre = f"{phase}."
            if phase in ("sync_full", "sync_incremental"):
                gen = tot["sources.gen_s"]
                out[pre + "sources.gen_s"] = (gen / n, "s")
                out[pre + "processor.pump_s"] = ((tot["self.processor.read"] - gen) / n, "s")
                out[pre + "processor.staged_bytes"] = (tot["processor.staged_bytes"] / n, "B")
                out[pre + "cache.write_dataframe_s"] = (span_s["cache.write_dataframe"] / n, "s")
                out[pre + "writers.write_s"] = (span_s["writers.write"] / n, "s")
                out[pre + "state.write_s"] = (span_s["state.write"] / n, "s")
                out[pre + "fileio.bytes_written"] = (tot["fileio.bytes_written"] / n, "B")
            if phase != "curate_corpus":
                mut = sum(tot[f"fileio.{k}.n"] for k in FILEIO_MUTATING)
                out[pre + "fileio.ops_per_commit"] = (mut / max(1, tot["writers.commits"]), "count")
            if phase in ("sync_incremental", "serve_mixed"):
                for k in FILEIO_REPORTED:
                    out[f"{pre}fileio.{k}.n"] = (tot[f"fileio.{k}.n"] / n, "count")
                    out[f"{pre}fileio.{k}.s"] = (tot[f"fileio.{k}.s"] / n, "s")
            if phase == "serve_mixed":
                for k in ("read_where", "count_where", "agg_where", "read_version",
                          "delete_where", "update_where"):
                    name = f"writers.{k}"
                    out[pre + name + "_s"] = (span_s[name] / max(1, span_n[name]), "s")
            if phase in ("serve_mixed", "curate_corpus"):
                out[pre + "writers.files_selected_frac"] = (
                    tot["writers.files_selected"] / max(1, tot["writers.files_total"]), "frac")
            if phase == "curate_corpus":
                for k in ("minhash", "exact_groups", "index_build", "search"):
                    name = f"operators.{k}"
                    out[pre + name + "_s"] = (span_s[name] / max(1, span_n[name]), "s")
            js = [jobs[o.op_id] for o in p_ops]
            for f, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                            ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                            ("shuffle_write_bytes", "B"), ("input_bytes", "B")):
                out[f"{pre}spark.{f}"] = (sum(getattr(j, f) for j in js) / n, unit)
            out[pre + "spark.plan_s"] = (sum(o.plan_s for o in p_ops) / n, "s")
            out[pre + "driver.self_s"] = (
                sum(max(0.0, o.wall - jobs[o.op_id].busy_s) for o in p_ops) / n, "s")
            out[pre + "trace.overhead_s"] = (self._overhead(phase), "s")
        out["manifest.log_bytes"] = (self.facts["manifest.log_bytes"], "B")
        out["failed_ops_frac"] = (self.failed / max(1, self.attempted), "frac")
        return out

    def _overhead(self, phase: str) -> float:
        """Traced minus untraced median latency of the timed ops, averaged
        over the op kinds of the phase."""
        diffs = []
        by_kind: dict[tuple[str, bool], list[float]] = defaultdict(list)
        for o in self.tracer.ops:
            if o.phase == phase and o.timed:
                by_kind[(o.kind, o.traced)].append(o.wall)
        for (kind, traced), walls in by_kind.items():
            if traced and by_kind.get((kind, False)):
                diffs.append(percentile(walls, 50) - percentile(by_kind[(kind, False)], 50))
        return float(np.mean(diffs)) if diffs else 0.0


# -- answer checks -------------------------------------------------------------


def _safe_check(check, answer) -> bool:
    try:
        return bool(check(answer))
    except Exception:  # a check that cannot evaluate counts as a wrong answer
        traceback.print_exc(file=sys.stderr)
        return False


def _falsify(kind: str, answer):
    """Self-test hook: a wrong answer of the same shape where one is
    cheap to build, else None (which no check accepts)."""
    if kind in ("lookup", "scan", "search") and answer.num_rows:
        return answer.slice(0, answer.num_rows - 1)
    if kind == "count":
        return {**answer, "count": answer["count"] + 1}
    if kind == "agg":
        return {**answer, "aggs": {**answer["aggs"],
                                   "count_star": answer["aggs"]["count_star"] + 1}}
    if kind == "curate":  # (candidate pairs, exact groups): lose every pair
        pairs, groups = answer
        return pairs.slice(0, 0), groups
    return None


def _cents(dec) -> int:
    return 0 if dec is None else int(round(dec * 100))


def _df_arrow(df):
    return _ledger_arrow(df), df


LEDGER_COLS = ("id", "account", "amount", "qty", "status", "updated_at")


def _ledger_arrow(df):
    return df.select(*LEDGER_COLS).toArrow()


def _rows_equal(got, m: LedgerModel, ids: np.ndarray) -> bool:
    """``got`` (an Arrow table of LEDGER_COLS) holds exactly the model's
    rows for ``ids``."""
    import pyarrow as pa

    if got.num_rows != len(ids):
        return False
    got = got.sort_by("id")
    gid = got.column("id").to_numpy()
    ids = np.sort(ids)
    if not np.array_equal(gid, ids):
        return False
    ts = got.column("updated_at").cast(pa.timestamp("us", tz="UTC")).cast(pa.int64())
    return (
        np.array_equal(got.column("account").to_numpy(), m.account[ids])
        and np.array_equal([_cents(d) for d in got.column("amount").to_pylist()],
                           m.amount_c[ids])
        and np.array_equal(got.column("qty").to_numpy(), m.qty[ids])
        and got.column("status").to_pylist() == m.status[ids].tolist()
        and np.array_equal(ts.to_numpy(), m.updated_us[ids])
    )


def _agg_matches(aggs: dict, m: LedgerModel, sel: np.ndarray) -> bool:
    if len(sel) == 0:
        return aggs["count_star"] == 0 and aggs["sum_amount"] is None
    return (
        aggs["count_star"] == len(sel)
        and _cents(aggs["sum_amount"]) == int(m.amount_c[sel].sum())
        and aggs["max_qty"] == int(m.qty[sel].max())
    )


def _stream_matches(cache, s) -> bool:
    """Row count and column checksums of a landed stream equal what the
    generator emitted."""
    df = cache.store.read(cache.table_name(s.name))
    c = s.checks
    if s.name == "users":
        r = df.selectExpr("count(*) AS count", "sum(id) AS sum_id",
                          "sum(score) AS score", "sum(length(name)) AS name_len").collect()[0]
        return (r["count"], r["sum_id"], _cents(r["score"]), r["name_len"]) == (
            c["count"], c["sum_id"], c["sum_score_cents"], c["sum_name_len"])
    r = df.selectExpr("count(*) AS count", "sum(id) AS sum_id", "sum(amount) AS amount",
                      "sum(qty) AS qty", "sum(length(note)) AS note_len").collect()[0]
    return (r["count"], r["sum_id"], _cents(r["amount"]), r["qty"], r["note_len"]) == (
        c["count"], c["sum_id"], c["sum_amount_cents"], c["sum_qty"], c["sum_note_len"])


def _bm25_matches(got, con, terms: list[str]) -> bool:
    """Index-probe scores equal a DuckDB BM25 (Lucene idf, k1=1.2,
    b=0.75) computed from the raw corpus."""
    lit = ", ".join(f"'{t}'" for t in terms)
    want = con.execute(f"""
        WITH toks AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 unnest(string_split(text, ' ')) AS tok FROM docs),
        consts AS (SELECT count(*) AS n, sum(len(string_split(text, ' '))) AS sumdl
                   FROM docs),
        tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
               FROM toks WHERE tok IN ({lit}) GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
        SELECT tf.doc_id, count(*) AS n_hit_terms,
               sum(ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
                                     / (CAST(c.sumdl AS DOUBLE) / c.n)))) AS bm25
        FROM tf JOIN dfreq d USING (tok) CROSS JOIN consts c
        GROUP BY tf.doc_id ORDER BY tf.doc_id""").fetchnumpy()
    got = got.sort_by("doc_id")
    return (
        np.array_equal(got.column("doc_id").to_numpy(), want["doc_id"])
        and np.array_equal(got.column("n_hit_terms").to_numpy(), want["n_hit_terms"])
        and bool(np.all(np.abs(got.column("bm25").to_numpy() - want["bm25"]) <= 2e-6))
    )


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (VmHWM) of this Python driver and of the JVM."""
    out = {}
    for part, pid in (("python", "self"), ("jvm", str(spark.sparkContext._gateway.proc.pid))):
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        out[part] = kb / 1024.0
    return out


def jvm_gc_s(spark) -> float:
    """Total garbage-collection time of the JVM so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3
