"""Text-analysis operators: tokenization, quality, language-ID,
fingerprinting.

All pure ``pyspark.sql.functions`` expression trees — they stay inside
whole-stage codegen and scale linearly with no shuffle (per-row maps) —
except :func:`token_bucket_counts`, an ``arrow_text`` kernel.
Every operator has an equivalent ANSI-SQL rendering for the DuckDB
oracle (see ``pyairbyte_spark.queries``), so numeric definitions below
deliberately use engine-portable primitives (md5, regexp, fold).
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyairbyte_spark.operators.arrow_text import map_text, md5_prefixes, words

# Small multilingual stopword/marker sets (public common words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "at", "by"]

# Polynomial rolling-hash parameters (portable: BIGINT-safe in both
# Spark and DuckDB — accumulator stays < 131 * 1e9 + 255 < 2^63).
_FP_BASE = 131
_FP_MOD = 1_000_000_007


def tokens_expr(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_bucket_counts(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    carry: list[str] | None = None,
    n_buckets: int = 512,
) -> DataFrame:
    """Per-doc hashed-token bucket histogram ``(id, carry.., b, cnt)``
    in one ``arrow_text`` pass: bucket = first-32-md5-bits(token) %
    n_buckets over the nonempty tokens of ``split(trim(lower(text)),
    '\\s+')``, cnt = occurrences in the doc — at most ``n_buckets``
    rows per doc where the explode formulation moves one row per token
    occurrence. Downstream folds stay exact: sum(cnt) == count(*) over
    terms, and sum(cnt × lr) in DECIMAL == the per-term decimal sum.
    Docs without a nonempty token (NULL text included) yield no rows."""

    def make_emit():
        memo: dict = {}  # token -> bucket, per batch

        def emit(t):
            toks = list(filter(None, words(t, lower=True)))
            new = set(toks).difference(memo)
            if new:
                b = md5_prefixes(new, 32) % n_buckets
                memo.update(zip(new, b.tolist()))
            counts = Counter(map(memo.__getitem__, toks))
            return counts.keys(), counts.values()

        return emit

    return map_text(
        docs,
        text_col,
        [id_col, *(carry or [])],
        [("b", pa.int64()), ("cnt", pa.int64())],
        make_emit,
    )


def token_count_expr(col: Column | str) -> Column:
    return F.size(tokens_expr(col))


def bpe_ish_token_count_expr(col: Column | str) -> Column:
    """BPE-ish subword proxy: word-chunks + digits + punctuation marks,
    the regex family BPE pre-tokenizers use."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def punct_ratio_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def stopword_ratio_expr(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    toks = tokens_expr(col)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(sw)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score_expr(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    + moderate stopword density (doc-quality filters à la C4/Gopher,
    public recipes)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_score = F.when(n < 50, n / F.lit(50.0)).when(n > 5000, F.lit(0.5)).otherwise(F.lit(1.0))
    punct_pen = F.least(punct_ratio_expr(c) * 4, F.lit(1.0))
    sw = stopword_ratio_expr(c)
    sw_score = F.when(sw > 0.6, F.lit(0.5)).otherwise(F.lit(1.0))
    return F.round(len_score * (1 - punct_pen * 0.5) * sw_score, 6)


def langid_expr(col: Column | str) -> Column:
    """Marker-word language ID: argmax over per-language marker hits,
    deterministic tie-break by language code order."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.transform(tokens_expr(c), lambda t: F.lower(t))
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(words))).alias("hits"),
            F.lit(len(LANG_MARKERS) - i).alias("prio"),  # earlier lang wins ties
            F.lit(lang).alias("lang"),
        )
        for i, (lang, words) in enumerate(LANG_MARKERS.items())
    ]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def normalize_text_expr(col: Column | str) -> Column:
    """Lowercase + collapse whitespace — canonical form for fingerprints."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_md5_expr(col: Column | str) -> Column:
    """Content fingerprint = md5 of normalized text."""
    return F.md5(normalize_text_expr(col))


def fingerprint_rolling_expr(col: Column | str) -> Column:
    """Polynomial rolling hash over the normalized text's characters:
    ``h = fold(chars, 0, (acc, ch) -> (acc*131 + ascii(ch)) mod 1e9+7)``.

    A JVM-side fold (``F.aggregate``) — linear, no shuffle, no UDF.
    """
    chars = F.regexp_extract_all(normalize_text_expr(col), F.lit("."), 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * _FP_BASE + F.ascii(ch)) % _FP_MOD,
    )


# ---------------------------------------------------------------------------
# Repetition / quality filters in the style of the published Gopher
# rules (Rae et al. 2021, "Scaling Language Models", appendix A1.1) and
# C4 heuristics. All JVM expression trees — per-row maps, no shuffle.
# The top-n-gram signal is O(distinct_grams * grams) per document,
# which is bounded by document length, not corpus size — linear at
# corpus scale.
# ---------------------------------------------------------------------------

# Published Gopher-rule thresholds (Rae et al. 2021, appendix A1.1 —
# the COMPLETE rule list, including the stop-word filter and the
# character-fraction repetition rules).
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "min_alpha_word_fraction": 0.8,
    "min_stop_words": 2,
    "max_bullet_line_fraction": 0.9,
    "max_ellipsis_line_fraction": 0.3,
    "max_dup_line_fraction": 0.3,
    "max_dup_paragraph_fraction": 0.3,
    "max_dup_line_char_fraction": 0.2,
    "max_dup_paragraph_char_fraction": 0.2,
    "max_top_2gram_char_fraction": 0.20,
    "max_top_3gram_char_fraction": 0.18,
    "max_top_4gram_char_fraction": 0.16,
    "max_dup_5gram_char_fraction": 0.15,
    "max_dup_6gram_char_fraction": 0.14,
    "max_dup_7gram_char_fraction": 0.13,
    "max_dup_8gram_char_fraction": 0.12,
    "max_dup_9gram_char_fraction": 0.11,
    "max_dup_10gram_char_fraction": 0.10,
}

# The published stop-word list: a document must contain at least
# ``min_stop_words`` occurrences of these (case-insensitive).
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def lines_expr(col: Column | str) -> Column:
    """Non-empty trimmed lines of a document."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )


def _dup_fraction(items: Column) -> Column:
    n = F.size(items)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(items))) / n.cast("double")
    ).otherwise(F.lit(0.0))


def dup_line_fraction_expr(col: Column | str) -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier line."""
    return _dup_fraction(lines_expr(col))


def paragraphs_expr(col: Column | str) -> Column:
    """Non-empty trimmed blank-line-separated paragraphs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, r"\n\s*\n"), lambda p: F.trim(p)),
        lambda p: F.length(p) > 0,
    )


def dup_paragraph_fraction_expr(col: Column | str) -> Column:
    """Like :func:`dup_line_fraction_expr` over blank-line-separated paragraphs."""
    return _dup_fraction(paragraphs_expr(col))


def ngrams_expr(col: Column | str, n: int) -> Column:
    """Token n-grams as space-joined strings (empty array when the
    document has fewer than ``n`` tokens — NB Spark's ``sequence(1, 0)``
    counts *down* to ``[1, 0]``, hence the guard in
    :func:`_grams_from_toks`).

    The token array is BOUND ONCE via a single-element ``transform``
    before the per-position lambda touches it: an interpreted HOF
    re-evaluates outer expression subtrees on every lambda-body
    reference, so ``slice(tokens_expr(..), i, n)`` inside the lambda
    re-tokenized the document once per n-gram position (measured 6x
    on the sf1 contamination pair build: 32s -> 5.4s). A lambda
    *variable* is a per-element slot lookup instead."""
    return F.element_at(
        F.transform(
            F.array(tokens_expr(col)), lambda t: _grams_from_toks(t, n)
        ),
        1,
    )


def top_ngram_fraction_expr(col: Column | str, n: int = 2) -> Column:
    """Fraction of all token n-grams taken by the single most frequent
    one — the Gopher repetition signal (high = boilerplate loops).

    The max count of any gram equals the max run length in the SORTED
    gram array, so this folds once over ``array_sort(grams)`` —
    O(len log len) per document instead of the naive
    O(distinct * len) all-pairs count, which matters for long documents.
    """
    grams = ngrams_expr(col, n)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(F.array_sort(grams), acc0, merge, lambda acc: acc["best"])
    return F.when(
        F.size(grams) > 0, best / F.size(grams).cast("double")
    ).otherwise(F.lit(0.0))


def mean_word_length_expr(col: Column | str) -> Column:
    toks = tokens_expr(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(
        F.size(toks) > 0, total / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))


def alpha_word_fraction_expr(col: Column | str) -> Column:
    """Fraction of words containing at least one alphabetic character."""
    toks = tokens_expr(col)
    hits = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return hits / F.greatest(F.size(toks), F.lit(1)).cast("double")


def symbol_word_ratio_expr(col: Column | str) -> Column:
    """Hash marks + ellipses per word (Gopher symbol-to-word ratio)."""
    c = F.col(col) if isinstance(col, str) else col
    n_sym = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    return n_sym / F.greatest(F.size(tokens_expr(c)), F.lit(1)).cast("double")


def bullet_line_fraction_expr(col: Column | str) -> Column:
    lns = lines_expr(col)
    hits = F.size(F.filter(lns, lambda ln: ln.rlike(r"^[-*•]")))
    return F.when(
        F.size(lns) > 0, hits / F.size(lns).cast("double")
    ).otherwise(F.lit(0.0))


def ellipsis_line_fraction_expr(col: Column | str) -> Column:
    lns = lines_expr(col)
    hits = F.size(F.filter(lns, lambda ln: ln.rlike(r"(\.\.\.|…)$")))
    return F.when(
        F.size(lns) > 0, hits / F.size(lns).cast("double")
    ).otherwise(F.lit(0.0))


def _grams_from_toks(toks: Column, n: int) -> Column:
    """Token n-grams from an already-bound token array column."""
    m = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(m >= 1, grams).otherwise(F.array().cast("array<string>"))


def _top_gram_chars_expr(grams: Column) -> Column:
    """Characters covered by the single most frequent gram:
    ``max_count * len(gram)``, 0 when nothing repeats (max_count < 2).
    Ties on count break to the LONGEST gram so the result is
    deterministic (engine-independent — matches the SQL oracle's
    ``max(len) FILTER (count = max_count)``).

    One fold over the SORTED gram array: the count of any gram equals
    its run length, so (max_count, best_len) falls out of a linear
    run-length scan — no per-gram re-count, no shuffle."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("blen"),
    )

    def merge(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        upd = (run > acc["best"]) | (
            (run == acc["best"]) & (F.length(g) > acc["blen"])
        )
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(upd, run).otherwise(acc["best"]).alias("best"),
            F.when(upd, F.length(g)).otherwise(acc["blen"]).alias("blen"),
        )

    return F.aggregate(
        F.array_sort(grams),
        acc0,
        merge,
        lambda acc: F.when(
            acc["best"] >= 2, (acc["best"] * acc["blen"]).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )


def _dup_chars_expr(items: Column) -> Column:
    """Characters in every occurrence beyond the first of each repeated
    item (= sum over items of ``(count - 1) * len``): one run-length
    fold over the sorted array — an occurrence is "beyond the first"
    exactly when it equals its sorted predecessor."""
    acc0 = F.struct(F.lit("").alias("prev"), F.lit(0).cast("long").alias("dup"))

    def merge(acc: Column, g: Column) -> Column:
        return F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["dup"] + F.length(g))
            .otherwise(acc["dup"])
            .alias("dup"),
        )

    return F.aggregate(F.array_sort(items), acc0, merge, lambda acc: acc["dup"])


def _total_chars_expr(items: Column) -> Column:
    return F.aggregate(
        items, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )


def _frac(num: Column, denom: Column) -> Column:
    """num/denom capped at 1.0: with OVERLAPPING n-grams the beyond-first
    char mass can exceed the text length (the paper's span-union coverage
    measure is bounded by 1; the count-based form is cheaper — one fold vs
    O(len^2) interval marking — and only diverges for pathological repeats
    that fail the threshold either way)."""
    return F.round(
        F.when(
            denom > 0, F.least(F.lit(1.0), num / denom.cast("double"))
        ).otherwise(F.lit(0.0)),
        6,
    )


def gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The COMPLETE Gopher repetition/quality rule set (Rae et al. 2021
    appendix A1.1) plus the composite ``gopher_keep`` flag at the
    published thresholds — per-row expression trees only, no shuffle,
    no UDF.

    Signals: word count, mean word length, symbol-to-word ratio,
    alphabetic-word fraction, stop-word occurrences, bullet/ellipsis
    line fractions, duplicate line/paragraph fractions (by count AND by
    character mass), top-{2,3,4}-gram character fractions, and
    duplicate-{5..10}-gram character fractions.

    Character-fraction denominators: gram fractions divide by the
    whitespace-normalized text length (tokens joined by single spaces);
    line/paragraph char fractions divide by the total characters of the
    non-empty trimmed lines/paragraphs themselves. Both are exact
    integer counts so Spark and the SQL oracle agree bit-for-bit.

    Tokenization and line-splitting happen ONCE per row behind
    explicit projection boundaries (the :func:`shingles_df` pattern:
    HOF lambdas are interpreted and CSE does not reach inside them).
    Each gram array feeds exactly ONE fold, so per-n repetition stats
    are a single O(len log len) sorted run-length scan per document —
    bounded by document length, not corpus size."""
    th = GOPHER_THRESHOLDS
    pre = df.select(
        "*",
        tokens_expr(text_col).alias("__toks"),
        lines_expr(text_col).alias("__lines"),
        paragraphs_expr(text_col).alias("__paras"),
    )
    toks, lns, paras = F.col("__toks"), F.col("__lines"), F.col("__paras")
    pre = pre.withColumn("__char_total", F.length(F.concat_ws(" ", toks)))
    char_total = F.col("__char_total")

    n_words = F.size(toks)
    total_len = _total_chars_expr(toks)
    mean_len = F.when(
        n_words > 0, total_len / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_sym = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.|…"))
    sym_ratio = n_sym / F.greatest(n_words, F.lit(1)).cast("double")
    alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ) / F.greatest(n_words, F.lit(1)).cast("double")
    stop_words = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*GOPHER_STOP_WORDS))
    ).cast("long")
    bullet = F.when(
        F.size(lns) > 0,
        F.size(F.filter(lns, lambda ln: ln.rlike(r"^[-*•]")))
        / F.size(lns).cast("double"),
    ).otherwise(F.lit(0.0))
    ellip = F.when(
        F.size(lns) > 0,
        F.size(F.filter(lns, lambda ln: ln.rlike(r"(\.\.\.|…)$")))
        / F.size(lns).cast("double"),
    ).otherwise(F.lit(0.0))

    cols = [
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha, 6).alias("alpha_word_frac"),
        stop_words.alias("stop_word_count"),
        F.round(bullet, 6).alias("bullet_line_frac"),
        F.round(ellip, 6).alias("ellipsis_line_frac"),
        F.round(_dup_fraction(lns), 6).alias("dup_line_frac"),
        F.round(_dup_fraction(paras), 6).alias("dup_para_frac"),
        _frac(_dup_chars_expr(lns), _total_chars_expr(lns)).alias(
            "dup_line_char_frac"
        ),
        _frac(_dup_chars_expr(paras), _total_chars_expr(paras)).alias(
            "dup_para_char_frac"
        ),
    ]
    for n in (2, 3, 4):
        cols.append(
            _frac(
                _top_gram_chars_expr(_grams_from_toks(toks, n)), char_total
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in range(5, 11):
        cols.append(
            _frac(
                _dup_chars_expr(_grams_from_toks(toks, n)), char_total
            ).alias(f"dup_{n}gram_char_frac")
        )

    sig = pre.select("*", *cols).drop(
        "__toks", "__lines", "__paras", "__char_total"
    )
    keep = (
        (F.col("n_words") >= th["min_words"])
        & (F.col("n_words") <= th["max_words"])
        & (F.col("mean_word_len") >= th["min_mean_word_len"])
        & (F.col("mean_word_len") <= th["max_mean_word_len"])
        & (F.col("symbol_word_ratio") <= th["max_symbol_word_ratio"])
        & (F.col("alpha_word_frac") >= th["min_alpha_word_fraction"])
        & (F.col("stop_word_count") >= th["min_stop_words"])
        & (F.col("bullet_line_frac") <= th["max_bullet_line_fraction"])
        & (F.col("ellipsis_line_frac") <= th["max_ellipsis_line_fraction"])
        & (F.col("dup_line_frac") <= th["max_dup_line_fraction"])
        & (F.col("dup_para_frac") <= th["max_dup_paragraph_fraction"])
        & (F.col("dup_line_char_frac") <= th["max_dup_line_char_fraction"])
        & (F.col("dup_para_char_frac") <= th["max_dup_paragraph_char_fraction"])
    )
    for n in (2, 3, 4):
        keep = keep & (
            F.col(f"top_{n}gram_char_frac") <= th[f"max_top_{n}gram_char_fraction"]
        )
    for n in range(5, 11):
        keep = keep & (
            F.col(f"dup_{n}gram_char_frac") <= th[f"max_dup_{n}gram_char_fraction"]
        )
    return sig.withColumn("gopher_keep", keep)


# ---------------------------------------------------------------------------
# PII redaction: chained JVM regexp_replace — no UDF, no shuffle.
# Patterns are deliberately RE2-compatible (no lookaround) so the same
# regex runs unchanged in the DuckDB oracle.
# ---------------------------------------------------------------------------

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\b", "<PHONE>"),
]


def redact_pii_expr(col: Column | str) -> Column:
    """Replace emails / SSNs / IPv4s / phone numbers with typed tokens.
    Pattern order matters: SSN before IPv4-ish digit runs, phone last."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document count of each PII pattern plus the redacted text."""
    cols = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return df.select("*", *cols, redact_pii_expr(text_col).alias("redacted"))


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    return df.select(
        "*",
        token_count_expr(text_col).alias("n_tokens"),
        bpe_ish_token_count_expr(text_col).alias("n_subword_tokens"),
        F.round(punct_ratio_expr(text_col), 6).alias("punct_ratio"),
        F.round(stopword_ratio_expr(text_col), 6).alias("stopword_ratio"),
        quality_score_expr(text_col).alias("quality_score"),
        langid_expr(text_col).alias("lang_pred"),
        fingerprint_md5_expr(text_col).alias("fingerprint"),
        fingerprint_rolling_expr(text_col).alias("rolling_fp"),
    )


def unigram_logprob(
    docs: "DataFrame",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Per-document mean unigram log10-probability under the corpus's
    OWN unigram distribution — the perplexity-proxy quality signal
    (documents full of corpus-rare tokens score low; KenLM-style
    cross-entropy filtering with the corpus itself as the LM).

    Returns (``id_col``, n_tokens, avg_logp10) — higher = more
    "typical" text. Tokens are lowercased [a-z0-9] runs; every doc
    token is in the vocabulary by construction (self-scored), so no
    smoothing constant is needed.

    Scale: one explode → one token-count aggregate (map-side combine)
    → one token-keyed join back (the vocabulary is corpus-wide;
    broadcast it when small, shuffle-join otherwise — both one pass)
    → one doc_id aggregate. No window, no UDF. Per-token log10 is
    rounded to 6 and summed as DECIMAL so the cross-engine libm ulp
    cannot reach the value hash (the DSIR pattern, queries.py
    dsir_importance_weights).
    """
    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.round(
                F.log10(F.col("c").cast("double") / F.col("n").cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logp10"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logp10")
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring: hashed linear classifier (the fastText-
# style supervised scorer used for quality filtering in CCNet/LLaMA-
# class curation pipelines, via the hashing trick). The model is just
# (weights[n_buckets], bias); training happens offline — this is the
# SCORING operator, which is what runs at corpus scale.
# ---------------------------------------------------------------------------


def token_bucket_expr(tok: Column, n_buckets: int) -> Column:
    """Stable token -> bucket via a 60-bit md5 prefix (identical in
    the SQL oracle: ``('0x' || substr(md5(tok), 1, 15))::BIGINT % n``)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )


def hashed_linear_score(
    df: DataFrame,
    weights: list[float],
    *,
    bias: float = 0.0,
    text_col: str = "text",
    keep_threshold: float = 0.5,
    id_col: str | None = None,
    literal_max_buckets: int = 65536,
) -> DataFrame:
    """Score each document with a hashed-bag-of-words linear model:
    ``linear = bias + mean(weights[bucket(token)])``,
    ``prob = sigmoid(linear)``, ``clf_keep = prob >= keep_threshold``.

    Two physical strategies, auto-selected on ``len(weights)``:

    - **literal** (``<= literal_max_buckets``): the weight table rides
      the plan as a LITERAL array and each row folds its tokens once —
      entirely map-only (no join, no shuffle, no UDF), per-document
      cost, corpus-size-independent. Bounded by plan size (~64k
      buckets keeps the serialized plan in single-digit MB).
    - **broadcast-join** (above the cutoff — the million-bucket regime
      real fastText-class models live in): explode (id, token) pairs
      only (the document payload never replicates per token),
      broadcast-join the (bucket, weight) table, re-aggregate on
      ``id_col``, and join scores back to the original rows. Two
      shuffles on the doc id; the weight table is a few MB broadcast
      even at 2M buckets. Requires ``id_col`` naming a UNIQUE doc key
      (a synthetic id would force materializing the corpus to keep the
      two plan branches consistent).

    Both strategies compute the identical model: weights are summed as
    DECIMAL(18,6) of 6-dp-rounded values, so the sum is EXACT and
    order-independent — the map-side fold, the join-path SUM, and the
    oracle's unnest + SUM agree bit-for-bit; only the final sigmoid
    touches floating transcendentals (rounded to 6 dp).
    """
    n_buckets = len(weights)
    if n_buckets <= literal_max_buckets:
        w_arr = F.array(
            *[F.lit(round(w, 6)).cast("decimal(9,6)") for w in weights]
        )
        pre = df.select(
            "*",
            tokens_expr(text_col).alias("__toks"),
            w_arr.alias("__w"),
        )
        toks = F.col("__toks")
        wsum = F.aggregate(
            toks,
            F.lit(0).cast("decimal(18,6)"),
            lambda acc, t: (
                acc
                + F.element_at(
                    F.col("__w"),
                    (token_bucket_expr(t, n_buckets) + 1).cast("int"),
                )
            ).cast("decimal(18,6)"),
        )
        # coalesce: NULL text → NULL token array → treat as 0 tokens
        # (matches the join strategy's count over explode_outer rows)
        n = F.coalesce(F.size(toks), F.lit(0))
        return _clf_final(pre, n, wsum, bias, keep_threshold, drop=["__toks", "__w"])

    if id_col is None:
        raise ValueError(
            f"{n_buckets} buckets exceeds literal_max_buckets="
            f"{literal_max_buckets}; the broadcast-join strategy needs "
            "id_col naming a unique document key"
        )
    spark = df.sparkSession
    import pandas as pd

    wdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "__bucket": range(n_buckets),
                    # via string so the DECIMAL value is exactly the
                    # 6-dp-rounded weight (not a double round-trip)
                    "__wt": [f"{round(float(w), 6):.6f}" for w in weights],
                }
            )
        ).select(
            F.col("__bucket").cast("bigint").alias("__bucket"),
            F.col("__wt").cast("decimal(9,6)").alias("__wt"),
        )
    )
    pre = df.withColumn("__toks", tokens_expr(text_col))
    exploded = pre.select(
        F.col(id_col).alias("__id"),
        F.explode_outer("__toks").alias("__tok"),
    ).select(
        "__id", token_bucket_expr(F.col("__tok"), n_buckets).alias("__bucket")
    )
    per_doc = (
        exploded.join(wdf, "__bucket", "left")
        .groupBy("__id")
        .agg(
            F.coalesce(F.sum("__wt"), F.lit(0))
            .cast("decimal(18,6)")
            .alias("__wsum"),
            F.count("__bucket").alias("__n"),
        )
    )
    joined = pre.join(per_doc, pre[id_col] == per_doc["__id"]).drop("__id")
    return _clf_final(
        joined,
        F.col("__n"),
        F.col("__wsum"),
        bias,
        keep_threshold,
        drop=["__toks", "__n", "__wsum"],
    )


def _clf_final(
    pre: DataFrame,
    n: Column,
    wsum: Column,
    bias: float,
    keep_threshold: float,
    *,
    drop: list[str],
) -> DataFrame:
    """Shared scoring tail: mean → sigmoid → keep flag (both classifier
    strategies funnel through this so the output schema and rounding
    are defined once).

    ``clf_linear`` is a RATIONAL (6-dp decimal sum / token count), so
    its 6-dp rounding can land exactly on a half-micro tie — where
    double-rounding engines legitimately disagree (Spark's HALF_UP on
    the binary value vs DuckDB's scaled-multiply; caught by the sf0.1
    oracle sweep on one of 5,000 docs). The rounded value is therefore
    computed in EXACT integer arithmetic — round-half-away of
    (bias_micro·n + wsum_micro) / n with a sign-split integer
    division — and only then widened to double; the oracle mirrors
    the same integers. The sigmoid stays a double (transcendental —
    ties have measure zero)."""
    bias_micro = int(round(bias * 1_000_000))
    num = (
        F.lit(bias_micro) * n.cast("long")
        + (wsum * F.lit(1_000_000)).cast("long")
    )
    den = n.cast("long")
    a = F.lit(2) * F.abs(num) + den
    b = F.lit(2) * den
    # exact integer floor-div: (a - a%b) is a multiple of b and both
    # sides stay far under 2^53, so the double division is exact
    micro_abs = ((a - a % b) / b).cast("long")
    micro = F.when(
        n > 0,
        F.signum(num).cast("long") * micro_abs,
    ).otherwise(F.lit(bias_micro))
    linear = F.when(
        n > 0, F.lit(bias) + wsum.cast("double") / n.cast("double")
    ).otherwise(F.lit(float(bias)))
    out = pre.select(
        "*",
        n.cast("long").alias("n_tokens"),
        (micro.cast("double") / F.lit(1_000_000.0)).alias("clf_linear"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-linear)), 6).alias("clf_prob"),
    ).drop(*drop)
    return out.withColumn("clf_keep", F.col("clf_prob") >= F.lit(keep_threshold))


# ---------------------------------------------------------------------------
# BM25 keyword scoring (Robertson/Spärck Jones; the Lucene "BM25+1"
# idf variant, so idf is always positive). The retrieval-shaped
# operator of a curation stack: score documents against a keyword
# query with corpus-level statistics — no index, pure relational plan.
# ---------------------------------------------------------------------------


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score against ``query_terms`` (lowercased,
    whitespace tokenization):

    ``score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with ``idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)``.

    Output: one row per document containing at least one query term —
    ``(id_col, n_hit_terms, bm25)``, score rounded to 6 dp.

    Plan shape: two corpus passes (one aggregates N and Σdl for the
    corpus constants, one explodes matching tokens into per-(doc,term)
    tf), then a broadcast of the term df table (|query| rows) and of
    the 1-row constants; the only full shuffles carry (doc, term)
    longs. avgdl is derived as exact-integer Σdl / N at the end so
    both passes and the SQL oracle agree bit-for-bit before the final
    float arithmetic. At deployment scale the corpus-constants pass is
    the thing to precompute once per snapshot and reuse across
    queries.
    """
    terms = sorted({t.lower() for t in query_terms})
    base = df.select(
        F.col(id_col),
        F.transform(tokens_expr(text_col), lambda tk: F.lower(tk)).alias(
            "__lt"
        ),
    ).select(
        F.col(id_col),
        F.size("__lt").cast("long").alias("__dl"),
        F.filter("__lt", lambda tk: tk.isin(terms)).alias("__hits"),
    )
    consts = base.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__sumdl")
    )
    tf = (
        base.select(id_col, "__dl", F.explode("__hits").alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl"))
    )
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    idf = F.log(
        (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0
    )
    score = idf * (
        F.col("__tf") * (k1 + 1.0)
    ) / (
        F.col("__tf")
        + k1 * (1.0 - b + b * F.col("__dl").cast("double") / avgdl)
    )
    return (
        tf.join(F.broadcast(dfreq), "__tok")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.round(F.sum(score), 6).alias("bm25"),
        )
    )
