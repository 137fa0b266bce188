"""Seeded input generators and the sources that feed them to the package.

Everything here is derived from one ``numpy.random.Generator``; the same
seed gives byte-identical records, upsert batches, operation mixes and
corpora. The package only ever sees the generated messages (through
``SparkSource.read``), DataFrames and predicates.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np

from pyairbyte_spark.catalog import StreamSpec
from pyairbyte_spark.sources import SparkSource
from pyairbyte_spark.sources.messages import (
    AirbyteMessage,
    RecordMessage,
    StateMessage,
    TraceMessage,
)

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
STATUSES = np.array(["new", "paid", "shipped", "returned", "cancelled"], dtype=object)
CITIES = np.array(
    ["Lisbon", "Osaka", "Quito", "Tromso", "Accra", "Perth", "Lyon", "Pune"],
    dtype=object,
)

_INT = {"type": "integer"}
_NUM = {"type": "number"}
_STR = {"type": "string"}
_TS = {"type": "string", "format": "date-time"}


def iso_us(us: np.ndarray) -> list[str]:
    """Epoch microseconds -> RFC 3339 strings with a ``Z`` suffix."""
    return [s + "Z" for s in np.datetime_as_string(us.astype("datetime64[us]"))]


def word_pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` distinct lowercase ASCII words with lengths in [lo, hi]."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    out: dict[str, None] = {}
    while len(out) < n:
        ln = int(rng.integers(lo, hi + 1))
        out.setdefault(b"".join(rng.choice(letters, ln)).decode(), None)
    return np.array(list(out), dtype=object)


def text_pool(rng: np.random.Generator, n: int, max_words: int) -> np.ndarray:
    """``n`` strings of 0..max_words words: varied-length free text."""
    words = word_pool(rng, 400, 2, 9)
    lens = rng.integers(0, max_words + 1, n)
    return np.array(
        [" ".join(words[rng.integers(0, len(words), k)]) for k in lens], dtype=object
    )


# -- sync_full: a two-stream typed source ------------------------------------


USERS_SCHEMA = {
    "properties": {
        "id": _INT,
        "name": _STR,
        "created_at": _TS,
        "score": _NUM,
        "address": {
            "type": "object",
            "properties": {"city": _STR, "zip": _STR},
        },
    }
}
ORDERS_SCHEMA = {
    "properties": {
        "id": _INT,
        "user_id": _INT,
        "amount": _NUM,
        "qty": _INT,
        "status": _STR,
        "updated_at": _TS,
        "note": _STR,
    }
}


@dataclass
class Stream:
    """One stream's records as parallel Python lists, plus the checksums
    the landed table must reproduce."""

    name: str
    columns: dict[str, list]
    checks: dict = field(default_factory=dict)

    def __len__(self) -> int:
        return len(self.columns["id"])


def sync_streams(rng: np.random.Generator, n: int) -> list[Stream]:
    names = text_pool(rng, 512, 6)
    notes = text_pool(rng, 512, 30)
    uid = np.arange(n, dtype=np.int64)
    u_name = names[rng.integers(0, len(names), n)]
    score_c = rng.integers(0, 1_000_000, n)
    users = Stream(
        "users",
        {
            "id": uid.tolist(),
            "name": u_name.tolist(),
            "created_at": iso_us(EPOCH_US + rng.integers(0, 10**13, n)),
            "score": (score_c / 100).tolist(),
            "address": [
                {"city": c, "zip": f"{z:05d}"}
                for c, z in zip(CITIES[rng.integers(0, len(CITIES), n)],
                                rng.integers(0, 100_000, n).tolist())
            ],
        },
        {
            "count": n,
            "sum_id": int(uid.sum()),
            "sum_score_cents": int(score_c.sum()),
            "sum_name_len": int(sum(len(s) for s in u_name)),
        },
    )
    oid = np.arange(n, dtype=np.int64) + 10**9
    amount_c = rng.integers(0, 10_000_000, n)
    qty = rng.integers(1, 100, n)
    o_note = notes[rng.integers(0, len(notes), n)]
    orders = Stream(
        "orders",
        {
            "id": oid.tolist(),
            "user_id": rng.integers(0, n, n).tolist(),
            "amount": (amount_c / 100).tolist(),
            "qty": qty.tolist(),
            "status": STATUSES[rng.integers(0, len(STATUSES), n)].tolist(),
            "updated_at": iso_us(EPOCH_US + rng.integers(0, 10**13, n)),
            "note": o_note.tolist(),
        },
        {
            "count": n,
            "sum_id": int(oid.sum()),
            "sum_amount_cents": int(amount_c.sum()),
            "sum_qty": int(qty.sum()),
            "sum_note_len": int(sum(len(s) for s in o_note)),
        },
    )
    return [users, orders]


class GeneratedSource(SparkSource):
    """Emits pre-generated column lists as protocol messages.

    ``gen_s`` accumulates the time spent building messages (the source
    layer), measured between the consumer's requests. ``state`` is the
    per-stream STATE payload emitted after each stream's records.
    """

    name = "source-perfbench"

    def __init__(self, specs: dict[str, StreamSpec]) -> None:
        super().__init__()
        self._specs = specs
        self.batch: list[Stream] = []
        self.state: dict[str, dict] = {}
        self.gen_s = 0.0

    def discovered_catalog(self) -> dict[str, StreamSpec]:
        return {
            k: StreamSpec(v.name, v.json_schema, list(v.primary_keys),
                          v.cursor_field, v.sync_mode)
            for k, v in self._specs.items()
        }

    def generate_messages(self, streams, state):
        clock = time.perf_counter
        for s in self.batch:
            if s.name not in streams:
                continue
            cols = list(s.columns)
            t = clock()
            for row in zip(*s.columns.values()):
                msg = AirbyteMessage(
                    "RECORD", record=RecordMessage(s.name, dict(zip(cols, row)))
                )
                self.gen_s += clock() - t
                yield msg  # the consumer's time is not the source's
                t = clock()
            self.gen_s += clock() - t
            if s.name in self.state:
                yield AirbyteMessage(
                    "STATE",
                    state=StateMessage("STREAM", s.name, dict(self.state[s.name])),
                )
            yield AirbyteMessage(
                "TRACE", trace=TraceMessage("STREAM_STATUS", s.name, "COMPLETE")
            )


def full_sync_source() -> GeneratedSource:
    return GeneratedSource(
        {
            "users": StreamSpec("users", USERS_SCHEMA),
            "orders": StreamSpec("orders", ORDERS_SCHEMA),
        }
    )


# -- sync_incremental / serve_mixed: one upserted ledger table ---------------


LEDGER_SCHEMA = {
    "properties": {
        "id": _INT,
        "account": _INT,
        "amount": _NUM,
        "qty": _INT,
        "status": _STR,
        "updated_at": _TS,
    }
}


def incremental_source() -> GeneratedSource:
    return GeneratedSource(
        {
            "ledger": StreamSpec(
                "ledger",
                LEDGER_SCHEMA,
                primary_keys=["id"],
                cursor_field="updated_at",
                sync_mode="incremental",
            )
        }
    )


def pick_keys(rng: np.random.Generator, n_keys: int, k: int, zipf: float) -> np.ndarray:
    """``k`` indices into ``n_keys``: Zipf-skewed (hot first) or uniform."""
    if zipf <= 0:
        return rng.integers(0, n_keys, k)
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks**-zipf
    return rng.choice(n_keys, k, p=p / p.sum())


class LedgerModel:
    """The benchmark's own copy of the ledger table: latest row per PK.

    Rows live in fixed-capacity numpy arrays indexed by PK (PKs are
    dense ``0..capacity``); ``live`` marks which exist. Amounts are
    integer cents so sums compare exactly against DECIMAL results.
    """

    def __init__(self, capacity: int) -> None:
        self.live = np.zeros(capacity, dtype=bool)
        self.account = np.zeros(capacity, dtype=np.int64)
        self.amount_c = np.zeros(capacity, dtype=np.int64)
        self.qty = np.zeros(capacity, dtype=np.int64)
        self.status = np.empty(capacity, dtype=object)
        self.updated_us = np.zeros(capacity, dtype=np.int64)
        self.next_id = 0
        self.fingerprints: dict[int, tuple[int, int, int]] = {}

    def apply(self, s: Stream) -> None:
        c = s.columns
        ids = np.asarray(c["id"])
        # Latest row per PK: keep each PK's last occurrence in the batch.
        _, first_in_reversed = np.unique(ids[::-1], return_index=True)
        last = len(ids) - 1 - first_in_reversed
        ids = ids[last]
        self.live[ids] = True
        self.account[ids] = np.asarray(c["account"])[last]
        self.amount_c[ids] = np.rint(np.asarray(c["amount"])[last] * 100).astype(np.int64)
        self.qty[ids] = np.asarray(c["qty"])[last]
        self.status[ids] = np.asarray(c["status"], dtype=object)[last]
        self.updated_us[ids] = s.checks["updated_us"][last]
        self.next_id = max(self.next_id, int(ids.max()) + 1)

    def fingerprint(self) -> tuple[int, int, int]:
        m = self.live
        return int(m.sum()), int(self.qty[m].sum()), int(self.amount_c[m].sum())

    def live_ids(self) -> np.ndarray:
        return np.flatnonzero(self.live)


def ledger_batch(
    rng: np.random.Generator,
    model: LedgerModel,
    n: int,
    update_frac: float,
    zipf: float,
    t0_us: int,
) -> Stream:
    """``n`` upserts: a ``update_frac`` share re-writes existing PKs
    (picked Zipf-skewed or uniformly), the rest insert new PKs.
    ``updated_at`` strictly increases within and across batches, so the
    latest row per PK is unambiguous."""
    n_upd = int(round(n * update_frac)) if model.next_id else 0
    live = model.live_ids()
    upd = live[pick_keys(rng, len(live), n_upd, zipf)] if n_upd else np.array([], np.int64)
    new = np.arange(model.next_id, model.next_id + n - n_upd, dtype=np.int64)
    ids = np.concatenate([upd, new])
    rng.shuffle(ids)
    updated_us = t0_us + np.arange(n, dtype=np.int64)
    amount_c = rng.integers(0, 10_000_000, n)
    return Stream(
        "ledger",
        {
            "id": ids.tolist(),
            "account": rng.integers(0, 1000, n).tolist(),
            "amount": (amount_c / 100).tolist(),
            "qty": rng.integers(1, 100, n).tolist(),
            "status": STATUSES[rng.integers(0, len(STATUSES), n)].tolist(),
            "updated_at": iso_us(updated_us),
        },
        {"updated_us": updated_us},
    )


# -- curate_corpus: Zipf corpus with planted duplicates ----------------------


@dataclass
class Corpus:
    ids: np.ndarray
    texts: list[str]
    near_pairs: list[tuple[int, int]]  # (original, edited copy)
    exact_pairs: list[tuple[int, int]]  # (original, verbatim copy)
    probes: list[list[str]]


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    doc_words: int,
    vocab_size: int,
    zipf: float,
    near_frac: float,
    exact_frac: float,
    n_probes: int,
) -> Corpus:
    """Docs of Zipf-distributed words. A ``near_frac`` share of docs are
    copies of an earlier original with one word replaced; an
    ``exact_frac`` share are verbatim copies. Originals are distinct
    base docs, each copied at most once."""
    vocab = word_pool(rng, vocab_size, 3, 10)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-zipf
    p /= p.sum()
    lens = rng.integers(doc_words // 2, doc_words * 3 // 2 + 1, n_docs)
    words = rng.choice(vocab_size, int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    docs = [list(w) for w in np.split(words, cuts)]
    n_near = int(n_docs * near_frac)
    n_exact = int(n_docs * exact_frac)
    n_base = n_docs - n_near - n_exact
    origins = rng.choice(n_base, n_near + n_exact, replace=False)
    near, exact = [], []
    for j, src in enumerate(origins.tolist()):
        dst = n_base + j
        d = list(docs[src])
        if j < n_near:
            pos = int(rng.integers(0, len(d)))
            d[pos] = int((d[pos] + 1 + rng.integers(0, vocab_size - 1)) % vocab_size)
            near.append((src, dst))
        else:
            exact.append((src, dst))
        docs[dst] = d
    texts = [" ".join(vocab[d]) for d in docs]
    # Probe terms: 2-3 words from the mid-frequency band, so each probe
    # matches a few percent of the corpus.
    mid = vocab[vocab_size // 50: vocab_size // 5]
    probes = [
        sorted(set(rng.choice(mid, int(rng.integers(2, 4))).tolist()))
        for _ in range(n_probes)
    ]
    return Corpus(np.arange(n_docs, dtype=np.int64), texts, near, exact, probes)
