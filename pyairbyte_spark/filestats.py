"""Parquet footer statistics harvesting + predicate-based file skipping.

This is the zone-map layer of :class:`~pyairbyte_spark.writers.
CommitLogTableStore` — the commit-log analogue of Delta Lake's
per-file ``stats`` JSON (min / max / nullCount per column, row count
per file) that powers data skipping. Delta computes these during the
write transaction; here they are harvested from the parquet footers
the write just produced — zero extra Spark jobs, exact values, and
the harvest cost is one footer read per staged file (driver-side
metadata, not data).

Reference parity: the reference has no table format of its own (it
delegates to the warehouse — e.g. Snowflake micro-partition pruning,
BigQuery clustering), so data skipping there is implicit in the
destination. Building on parquet directories, the skipping layer has
to exist here for SELECT-with-predicate workloads to avoid touching
100 TB of files (see ``airbyte/shared/sql_processor.py`` finalize
path, which simply trusts the warehouse).

Scale notes:

- Stats live in the commit manifest → pruning is a driver-side pass
  over manifest entries, no filesystem listing and no executor work.
  A predicate that matches 0.1% of files launches a Spark job over
  0.1% of the files.
- Stats are harvested only for scalar columns (numeric / string /
  boolean / date / timestamp), capped at :data:`MAX_STAT_COLUMNS`
  columns per table (Delta's ``dataSkippingNumIndexedCols`` is 32 for
  the same manifest-bloat reason). Long strings store a truncated
  lower bound and drop the upper bound (a truncated max is NOT a
  valid upper bound — Delta pads the last character; dropping is the
  conservative version).
- Skipping is CONSERVATIVE: a file is dropped only when its stats
  *prove* no row can match. Missing stats, unknown operators, or
  unexpected value types keep the file. The residual predicate is
  always re-applied to the surviving rows, so results are exact
  whether or not any file was skipped.
"""

from __future__ import annotations

import datetime
import re
from typing import Any

MAX_STAT_COLUMNS = 32
_MAX_STRING_STAT = 64

_EPOCH_DATE = datetime.date(1970, 1, 1)
_MICROS_PER_DAY = 86_400_000_000

# Stats-encoding version stamped on every harvested file record.
# v1 (implicit / absent): dates encoded as epoch-DAYS, timestamps as
#   epoch-MICROS — two incompatible integer domains, so a date
#   predicate against a timestamp column (or vice versa) compared
#   nonsense and could wrongly prune files (dropping matching rows).
# v2: dates encode as midnight-UTC epoch-MICROS (days * 86.4e9), the
#   exact value Spark's date→timestamp cast produces, so every
#   temporal stat and predicate lives in ONE totally-ordered domain.
# Readers seeing v1 stats keep the file for any temporal predicate
# (conservative: correct, just un-pruned) instead of comparing
# cross-domain integers.
STATS_VERSION = 2


def _encode(value: Any) -> tuple[Any, bool] | None:
    """JSON-encode a footer min/max value.

    Returns ``(encoded, is_exact)`` or ``None`` for unsupported types.
    Timestamps AND dates → epoch microseconds (int; a date is its
    midnight-UTC instant), so every temporal stat lives in one
    totally-ordered domain and date-vs-timestamp predicates compare
    correctly (see ``STATS_VERSION``). ``is_exact=False`` marks a
    truncated string (valid as a lower bound only).
    """
    if isinstance(value, bool):
        return value, True
    if isinstance(value, int) or isinstance(value, float):
        return value, True
    if isinstance(value, str):
        if len(value) > _MAX_STRING_STAT:
            return value[:_MAX_STRING_STAT], False
        return value, True
    return _encode_other(value)


def _bump_truncated_upper(prefix: str) -> str | None:
    """A VALID upper bound for any string starting with ``prefix``:
    increment the last incrementable code point and drop everything
    after it (Delta's truncated-max trick — ``"abc"`` bumped to
    ``"abd"`` upper-bounds every ``"abc…"``). Returns None when every
    character is U+10FFFF (no bound representable; caller stores no
    max, pruning stays conservative)."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _encode_other(value: Any) -> tuple[Any, bool] | None:
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int(
            (value - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        ), True
    if isinstance(value, datetime.date):
        return (value - _EPOCH_DATE).days * _MICROS_PER_DAY, True
    return None


def encode_predicate_value(value: Any) -> Any:
    """Encode a user predicate value into the stats domain (same
    mapping as :func:`_encode`; strings pass through untruncated)."""
    if isinstance(value, bool) or isinstance(value, (int, float, str)):
        return value
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int(
            (value - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
    if isinstance(value, datetime.date):
        return (value - _EPOCH_DATE).days * _MICROS_PER_DAY
    return None  # unsupported → caller must keep the file


def harvest_file_stats(parquet_path) -> dict[str, Any]:
    """Read one parquet file's footer and return its stats record:
    ``{"rows": N, "stats": {col: {"min", "max", "nulls"}}, "sv": 2}``.
    ``parquet_path`` is a local path or any seekable binary file-like
    (e.g. ``FileIO.open_input`` over HDFS) — footer reads are a few
    bounded seek+read calls, never a full-file scan.

    ``max`` is ``None`` when only a truncated (lower-bound-only)
    string was available. Columns with any stat-less row group, nested
    paths (``a.list.element``), or unsupported types are omitted —
    omission means "never skip on this column", which is safe.
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(parquet_path).metadata
    acc: dict[str, dict[str, Any]] = {}
    dead: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            name = col.path_in_schema
            if "." in name or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                acc.pop(name, None)
                continue
            try:
                lo = _encode(st.min)
                hi = _encode(st.max)
            except Exception:
                # pyarrow can't decode every physical type's stats
                # (e.g. DECIMAL raises ArrowNotImplementedError).
                # Omission = "never skip on this column" — safe, and
                # the row count / other columns still harvest.
                dead.add(name)
                acc.pop(name, None)
                continue
            if lo is None or hi is None:
                dead.add(name)
                acc.pop(name, None)
                continue
            lo_v, _ = lo
            hi_v, hi_exact = hi
            if not hi_exact:
                # Truncated string max: a truncated prefix is NOT an
                # upper bound, but the prefix with its last code point
                # bumped IS (Delta's trick) — keeps upper-bound pruning
                # on long-string columns. None = unboundable.
                hi_v = _bump_truncated_upper(hi_v)
            nulls = st.null_count if st.null_count is not None else None
            cur = acc.get(name)
            if cur is None:
                acc[name] = {"min": lo_v, "max": hi_v, "nulls": nulls}
            else:
                cur["min"] = min(cur["min"], lo_v)
                if cur["max"] is None or hi_v is None:
                    cur["max"] = None
                else:
                    cur["max"] = max(cur["max"], hi_v)
                if nulls is None or cur["nulls"] is None:
                    cur["nulls"] = None
                else:
                    cur["nulls"] += nulls
    if len(acc) > MAX_STAT_COLUMNS:
        # Deterministic cap: keep the first N in schema order.
        keep = set(list(acc)[:MAX_STAT_COLUMNS])
        acc = {k: v for k, v in acc.items() if k in keep}
    return {"rows": md.num_rows, "stats": acc, "sv": STATS_VERSION}


# -- predicate evaluation ---------------------------------------------------

_OPS = {"=", "==", "<", "<=", ">", ">=", "in", "is_null", "not_null"}


def normalize_predicates(
    predicates: list[tuple],
) -> list[tuple[str, str, Any]]:
    """Validate a conjunctive predicate list ``[(col, op, value), ...]``.

    Supported ops: ``= == < <= > >= in is_null not_null`` (null ops
    take no value / ``None``). Raises ``ValueError`` on unknown ops so
    typos fail loudly instead of silently scanning everything.
    """
    out = []
    for p in predicates:
        if len(p) == 2:
            col, op = p
            value: Any = None
        else:
            col, op, value = p
        if op not in _OPS:
            raise ValueError(
                f"unsupported predicate op {op!r}; expected one of {sorted(_OPS)}"
            )
        if op == "in" and not isinstance(value, (list, tuple, set)):
            raise ValueError("'in' predicate requires a list/tuple/set value")
        out.append((col, op, value))
    return out


def normalize_dnf(predicates) -> list[list[tuple[str, str, Any]]]:
    """Normalize a predicate argument into OR-of-AND form.

    A flat list of ``(col, op, value)`` tuples is ONE conjunction
    (every predicate must hold). A list of LISTS is a disjunction of
    conjunctions: ``[[(a,'<',1)], [(b,'=',2),(c,'>',3)]]`` means
    ``a<1 OR (b=2 AND c>3)``. Empty input → match-everything."""
    preds = list(predicates or [])
    if not preds:
        return []
    if all(isinstance(p, (list,)) for p in preds):
        return [normalize_predicates(branch) for branch in preds]
    if any(isinstance(p, list) for p in preds):
        raise ValueError(
            "predicates must be all tuples (AND) or all lists (OR of ANDs)"
        )
    return [normalize_predicates(preds)]


def file_may_match_dnf(
    file_entry: dict[str, Any],
    dnf: list[list[tuple[str, str, Any]]],
) -> bool:
    """A file survives if ANY disjunct's conjunction may match."""
    if not dnf:
        return True
    return any(file_may_match(file_entry, branch) for branch in dnf)


def file_must_match_dnf(
    file_entry: dict[str, Any],
    dnf: list[list[tuple[str, str, Any]]],
) -> bool:
    """The dual of :func:`file_may_match_dnf`: True only when stats
    PROVE every row of the file satisfies the DNF — it is sufficient
    (and conservative) that one disjunct's conjunction provably holds
    for all rows. Powers the metadata tier of aggregate pushdown
    (``CommitLogTableStore.agg_where``, whose ``count(*)`` is
    ``count_where``): a fully-covered file contributes its footer
    stats (row count, zone map, harvested sum) without being read."""
    if not dnf:
        return True
    return any(file_must_match(file_entry, branch) for branch in dnf)


def file_must_match(
    file_entry: dict[str, Any], predicates: list[tuple[str, str, Any]]
) -> bool:
    """True only when every predicate provably holds for EVERY row of
    the file. Missing stats, missing row counts, truncated/absent
    upper bounds, legacy temporal encodings — anything unprovable —
    returns False (the file is then scanned; results stay exact)."""
    rows = file_entry.get("rows")
    if rows is None:
        return False
    if rows == 0:
        return True  # vacuously: contributes 0 rows either way
    stats = file_entry.get("stats") or {}
    sv = file_entry.get("sv") or 1
    for col, op, value in predicates:
        cs = stats.get(col)
        if cs is None:
            return False
        if not _must_match(cs, rows, op, value, sv=sv):
            return False
    return True


def _must_match(
    col_stats: dict[str, Any],
    rows: int,
    op: str,
    value: Any,
    sv: int = STATS_VERSION,
) -> bool:
    """Do ALL rows of a file with ``col_stats`` satisfy ``op value``?

    Null rows fail every comparison op, so any comparison proof needs
    an exact null count of 0. A missing upper bound (long-string
    truncation drops it) blocks every proof that needs ``max``."""
    lo, hi, nulls = col_stats["min"], col_stats["max"], col_stats["nulls"]
    if op == "is_null":
        return nulls is not None and nulls >= rows
    if op == "not_null":
        return nulls == 0
    if nulls is None or nulls > 0:
        return False  # any null row fails the comparison
    if sv < STATS_VERSION and _is_temporal(value):
        return False  # ambiguous legacy temporal domain: unprovable
    if lo is None or hi is None:
        return False
    if op == "in":
        vals = [encode_predicate_value(v) for v in value]
        if any(v is None for v in vals):
            return False
        try:
            return lo == hi and any(lo == v for v in vals)
        except TypeError:
            return False
    v = encode_predicate_value(value)
    if v is None:
        return False
    try:
        if op in ("=", "=="):
            return lo == v and hi == v
        if op == "<":
            return hi < v
        if op == "<=":
            return hi <= v
        if op == ">":
            return lo > v
        if op == ">=":
            return lo >= v
    except TypeError:
        return False
    return False


def dnf_to_column(dnf: list[list[tuple[str, str, Any]]]):
    """Residual Spark filter for a DNF predicate (None = no filter)."""
    if not dnf:
        return None
    branch_cols = [predicates_to_column(b) for b in dnf]
    out = None
    for c in branch_cols:
        if c is None:  # an empty branch matches everything
            return None
        out = c if out is None else (out | c)
    return out


def predicates_to_column(predicates: list[tuple[str, str, Any]]):
    """Build the residual Spark filter Column for a normalized
    predicate list. Always applied to the surviving rows — skipping
    only removes files that provably contain no match, the row-level
    semantics come from this filter."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, value in predicates:
        c = F.col(col)
        if op in ("=", "=="):
            e = c == F.lit(value)
        elif op == "<":
            e = c < F.lit(value)
        elif op == "<=":
            e = c <= F.lit(value)
        elif op == ">":
            e = c > F.lit(value)
        elif op == ">=":
            e = c >= F.lit(value)
        elif op == "in":
            e = _in_column(c, col, list(value))
        elif op == "is_null":
            e = c.isNull()
        else:  # not_null — normalize_predicates rejects anything else
            e = c.isNotNull()
        cond = e if cond is None else cond & e
    return cond


# Above this many IN-list values, build the predicate as ONE parsed
# SQL expression instead of Column.isin: isin creates a py4j literal
# Column per value — a driver round-trip each, ~0.5s of pure plan
# construction for an 800-hash probe list — while F.expr ships one
# string the JVM parses to the identical In(col, literals) predicate.
_IN_EXPR_MIN = 33

_SIMPLE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _in_column(c, name: str, vals: list):
    """``col IN (<values>)`` as a Spark Column. Long uniformly-typed
    str/int lists on plainly-named columns render as one SQL string
    (exact literal forms, backslash/quote-escaped); everything else
    keeps the per-literal isin path, so semantics never change."""
    from pyspark.sql import functions as F

    if len(vals) >= _IN_EXPR_MIN and _SIMPLE_IDENT.match(name):
        if all(type(v) is str for v in vals):
            lits = ",".join(
                "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for v in vals
            )
            return F.expr(f"`{name}` IN ({lits})")
        if all(type(v) is int for v in vals):  # type-is: bools excluded
            return F.expr(f"`{name}` IN ({','.join(map(str, vals))})")
    return c.isin(vals)


def _may_match(
    col_stats: dict[str, Any],
    rows: int,
    op: str,
    value: Any,
    sv: int = STATS_VERSION,
) -> bool:
    """Can ANY row of a file with ``col_stats`` satisfy ``op value``?

    min/max never include nulls, and no comparison op matches a null
    row, so comparing against [min, max] alone is sufficient. A file
    that is all nulls for the column has meaningless min/max in some
    writers — guard with the null count when available.
    """
    lo, hi, nulls = col_stats["min"], col_stats["max"], col_stats["nulls"]
    if op == "is_null":
        return nulls is None or nulls > 0
    if op == "not_null":
        return nulls is None or nulls < rows
    if nulls is not None and nulls >= rows:
        return False  # every row null → no comparison can match
    if sv < STATS_VERSION and _is_temporal(value):
        # Legacy (v1) stats encoded dates as epoch-days but timestamps
        # as epoch-micros; without the column's logical type we cannot
        # tell which domain lo/hi are in, so never prune on a temporal
        # predicate against old stats.
        return True
    if op == "in":
        vals = [encode_predicate_value(v) for v in value]
        if any(v is None for v in vals):
            return True
        return any(
            (v >= lo) and (hi is None or v <= hi) for v in vals
        )
    v = encode_predicate_value(value)
    if v is None:
        return True
    try:
        if op in ("=", "=="):
            return v >= lo and (hi is None or v <= hi)
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi is None or hi > v
        if op == ">=":
            return hi is None or hi >= v
    except TypeError:
        return True  # cross-type comparison (schema drift) → keep
    return True


def file_may_match(
    file_entry: dict[str, Any], predicates: list[tuple[str, str, Any]]
) -> bool:
    """True unless some predicate is provably unsatisfiable for every
    row of the file. Files without stats always match."""
    stats = file_entry.get("stats") or {}
    rows = file_entry.get("rows")
    if rows is None:
        return True
    sv = file_entry.get("sv") or 1
    for col, op, value in predicates:
        cs = stats.get(col)
        if cs is None:
            continue
        if not _may_match(cs, rows, op, value, sv=sv):
            return False
    return True


def _is_temporal(value: Any) -> bool:
    """True if the predicate value (or any element of an ``in`` list)
    is a date/datetime — the types whose v1 stats encoding was
    ambiguous."""
    if isinstance(value, (list, tuple, set)):
        return any(_is_temporal(v) for v in value)
    return isinstance(value, datetime.date)  # datetime subclasses date
