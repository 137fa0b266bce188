"""How Spark tokenizes and hashes text, reproduced over Arrow batches.

The four text kernels (``dedup.minhash_signature``,
``dedup.ngram_hash_rows``, ``search._postings`` and
``text.token_bucket_counts``) each run as one ``mapInArrow`` pass
through :func:`map_text`: tokenize, hash and count per doc in C-speed
Python (``re``, ``hashlib``, ``Counter``) with no explode and no
shuffle. Their rows must equal the Spark expression formulations --
and through those the DuckDB oracles -- bit for bit, so this module is
the one place that knows the JVM text contract:

- Java regex ``\\s`` is the ASCII class ``[ \\t\\n\\x0b\\f\\r]``
  (:data:`JAVA_WS`), applied to the UTF-8 bytes Spark's ``md5``
  hashes.
- Spark ``trim`` strips 0x20 only, so ``"\\tab"`` splits to
  ``['', 'ab']``, and splitting ``''`` yields ``['']``.
- Python ``str.lower()`` matches ``UTF8String.toLowerCase`` on this
  pipeline's data, final sigma and dotted I included. Lowering the
  whole text equals lowering each token: no Java ``\\s`` character is
  cased or case-ignorable, so no case context crosses a separator.
- ``trim(regexp_replace(lower(t), '\\s+', ' '))`` split on ``' '``
  (the fingerprint normalization) equals the nonempty ``words(t,
  lower=True)``, or ``['']`` when there are none.
- ``conv(substring(md5(x), 1, bits / 4), 16, 10)`` is the top ``bits``
  of the digest read big-endian (:func:`md5_prefixes`).

The kernels take ``id`` columns as row keys by precondition: the
expression formulations group by id and would merge duplicate-id rows,
where a kernel emits per row. Every caller feeds key-unique frames.

Executors need only pyarrow and numpy: this module registers itself
with cloudpickle by value, so a kernel ships with the functions it
uses instead of importing the package on the worker.
"""

from __future__ import annotations

import hashlib
import re
import sys
from typing import Callable, Iterable, Sequence

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql.pandas.types import from_arrow_type

cloudpickle.register_pickle_by_value(sys.modules[__name__])

JAVA_WS = rb"[ \t\n\x0b\f\r]+"  # Java regex \s, byte-wise

_split_ws = re.compile(JAVA_WS).split
_split_alnum = re.compile(rb"[^a-z0-9]+").split
_md5 = hashlib.md5


def words(text: str, lower: bool = False) -> list[bytes]:
    """``split(trim([lower](text)), '\\s+')`` as UTF-8 byte tokens."""
    if lower:
        text = text.lower()
    return _split_ws(text.encode("utf-8").strip(b" "))


def alnum_words(text: str) -> list[bytes]:
    """``filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')``; every
    non-ASCII byte is a separator, as the ASCII class makes it in Spark."""
    return [w for w in _split_alnum(text.lower().encode("utf-8")) if w]


def md5_prefixes(items: Iterable[bytes], bits: int) -> np.ndarray:
    """The top ``bits`` (at most 64) of each item's md5 digest, uint64."""
    h = np.frombuffer(b"".join([_md5(x).digest()[:8] for x in items]), ">u8")
    return h >> np.uint64(64 - bits)


def map_text(
    df: DataFrame,
    text: Column | str,
    keep: list[str],
    out: list[tuple[str, pa.DataType]],
    make_emit: Callable[[], Callable[[str], Sequence[Sequence]]],
) -> DataFrame:
    """One ``mapInArrow`` pass over ``df``: the ``keep`` columns pass
    through with their Spark types, and the ``out`` columns are computed
    from ``text``. ``make_emit()`` runs once per batch, so per-batch
    state (a token memo) stays bounded by the batch. Its ``emit(t)``
    returns one value list per ``out`` column for one doc; the doc
    contributes as many rows as the lists are long. NULL text
    contributes no rows."""
    ddl = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in keep]
        + [f"`{n}` {from_arrow_type(t).simpleString()}" for n, t in out]
    )
    names = [*keep, *(n for n, _ in out)]
    types = [t for _, t in out]
    nk = len(keep)

    def kernel(batches):
        for batch in batches:
            emit = make_emit()
            cols: list[list] = [[] for _ in types]
            rows: list[int] = []
            reps: list[int] = []
            for row, t in enumerate(batch.column(nk).to_pylist()):
                if t is None:
                    continue
                vals = emit(t)
                n = len(vals[0])
                if n:
                    rows.append(row)
                    reps.append(n)
                    for col, v in zip(cols, vals):
                        col.extend(v)
            take = pa.array(np.repeat(np.array(rows, np.int64), reps))
            yield pa.RecordBatch.from_arrays(
                [batch.column(j).take(take) for j in range(nk)]
                + [pa.array(c, type=t) for c, t in zip(cols, types)],
                names=names,
            )

    return df.select(*keep, text).mapInArrow(kernel, ddl)
