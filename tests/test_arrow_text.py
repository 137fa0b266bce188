"""The Arrow text kernels against their Spark expression formulations.

Each kernel in ``operators/arrow_text.py``'s family must emit exactly
the rows of the explode/groupBy pipeline it replaced, which the
persisted indexes and the DuckDB oracles depend on. The references
below are those pipelines, kept inline. Every kernel runs over one
shared adversarial input list, and each kernel's ``mapInArrow``
function must run in a Python worker that cannot import the package.
"""

from __future__ import annotations

import os
import pickle
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark.operators import dedup, search, text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TEXTS = [
    "One two THREE four five one two three",
    "\tone  two\nthree\rfour\x0bfive\x0csix ",  # Java \s is ASCII-only
    "  only spaces trimmed  ",  # Spark trim strips 0x20 only
    " \tleading tab after a space",
    "a\u00a0b\u2003c\u3000d",  # non-ASCII spaces are not separators
    "ΑΣ",
    "Σίγμα ΑΣ ΣΟΦΙΑ",
    "İ İstanbul",
    "ß Straße GROSS",
    "\tStraße  GROSS\nüber\rΑΣ ΣΟΦΙΑ\x0bİstanbul\x0c ",
    " naïve café über 東京 123 ABC one two ",
    "a-b,c.d!e?f:g;h (i) [j] {k} 1a2b3c",
    "a-b a-b c\r\nd\x0be",
    "repeat repeat repeat repeat repeat repeat repeat",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "short",
    "Short doc",
    "",
    "   ",
    " \t \n ",
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    """(doc_id long, key string, lang string, text) over ``TEXTS``;
    ``key`` is the non-long row key the pass-through kernels carry."""
    rows = [
        (i, f"k{i:02d}", ("en", "de", None)[i % 3], t)
        for i, t in enumerate(TEXTS)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, key string, lang string, text string"
    )


def _sorted(df, cols):
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, "" if v is None else v) for v in t),
    )


def _hash60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_reference(df, text_col, id_col, *, num_hashes, k):
    """``shingles_df`` lanes min-aggregated per id."""
    lanes = dedup.shingles_df(df, text_col, id_col, k).selectExpr(
        f"`{id_col}`",
        "CAST(conv(substring(md5(shingle), 1, 8), 16, 10) AS BIGINT) AS a",
        "CAST(conv(substring(md5(shingle), 9, 8), 16, 10) AS BIGINT) AS b",
    )
    sig = lanes.groupBy(id_col).agg(
        *[
            F.expr(f"min((a + {i} * b) % 4294967296)").alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.selectExpr(
        f"`{id_col}`",
        f"array({', '.join(f'h{i}' for i in range(num_hashes))}) AS sig",
    )


def postings_reference(df, text_col, id_col, *, sign):
    """Explode of the lowered tokens, grouped by (token, id)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(text.tokens_expr(text_col), lambda t: F.lower(t)).alias(
            "__lt"
        ),
    ).select("id", F.size("__lt").cast("long").alias("dl"), "__lt")
    return (
        base.select("id", "dl", F.explode("__lt").alias("token"))
        .groupBy("token", "id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.first("dl").alias("dl"),
        )
        .withColumn("sign", F.lit(int(sign)).cast("long"))
    )


def alnum_grams_reference(df, text_col, id_col, n):
    """ngram_duplication_coverage's gram build: distinct n-grams of the
    lowercased non-alphanumeric split, hashed after the explode."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )

    def grams(tk):
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.try_element_at(tk, i + j) for j in range(n)]
        )
        return F.when(
            F.size(tk) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)), gram
                )
            ),
        )

    g = F.element_at(F.transform(F.array(toks), grams), 1)
    return (
        df.select(F.col(id_col).alias("id"), g.alias("g"))
        .filter(F.col("g").isNotNull())
        .select("id", F.explode("g").alias("s"))
        .select("id", _hash60(F.col("s")).alias("gram"))
    )


def bucket_reference(df, text_col, id_col, carry, n_buckets):
    """dsir_importance_weights' term derivation, counted per bucket."""
    terms = df.select(
        id_col,
        *carry,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "w"
        ),
    ).filter(F.col("w") != "")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    return (
        terms.select(id_col, *carry, b.alias("b"))
        .groupBy(id_col, *carry, "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def test_minhash_signature_matches_expression(docs):
    for nh, k in ((12, 3), (8, 2)):
        kern = dedup.minhash_signature(docs, "text", "key", num_hashes=nh, k=k)
        assert kern.schema["key"].dataType == docs.schema["key"].dataType
        ref = minhash_reference(docs, "text", "key", num_hashes=nh, k=k)
        got = dict(map(tuple, kern.collect()))
        assert len(got) == len(TEXTS)  # NULL and '' rows included
        assert got == dict(map(tuple, ref.collect())), f"nh={nh} k={k}"


def test_postings_matches_expression(docs):
    cols = ["token", "id", "tf", "dl", "sign"]
    for sign in (1, -1):
        kern = search._postings(docs, "text", "key", sign=sign)
        assert kern.columns == cols
        assert kern.schema["id"].dataType == docs.schema["key"].dataType
        ref = postings_reference(docs, "text", "key", sign=sign)
        assert _sorted(kern, cols) == _sorted(ref, cols), f"sign={sign}"


def test_ngram_hash_rows_matches_expression_paths(docs):
    """Both tokenizer modes emit the exact (id, 60-bit md5 prefix)
    multiset of the pipeline each replaced: ``ngrams_expr`` (the
    contamination pair build) and the ngram-dup gram build."""
    for n in (1, 2, 5):
        ref = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(text.ngrams_expr("text", n)).alias("s"),
        ).select("id", _hash60(F.col("s")).alias("gram"))
        kern = dedup.ngram_hash_rows(docs, "text", "doc_id", n)
        assert _sorted(kern, ["id", "gram"]) == _sorted(
            ref, ["id", "gram"]
        ), f"ws n={n}"
    for n in (2, 3):
        kern = dedup.ngram_hash_rows(
            docs, "text", "doc_id", n, tokens="alnum", distinct=True
        )
        ref = alnum_grams_reference(docs, "text", "doc_id", n)
        assert _sorted(kern, ["id", "gram"]) == _sorted(
            ref, ["id", "gram"]
        ), f"alnum n={n}"


def test_token_bucket_counts_matches_expression(docs):
    cols = ["key", "lang", "doc_id", "b", "cnt"]
    for n_buckets in (512, 7):
        kern = text.token_bucket_counts(
            docs, "text", "key", carry=["lang", "doc_id"], n_buckets=n_buckets
        )
        assert kern.columns == cols
        assert [f.dataType for f in kern.schema][:3] == [
            docs.schema[c].dataType for c in cols[:3]
        ]
        ref = bucket_reference(docs, "text", "key", ["lang", "doc_id"], n_buckets)
        got = _sorted(kern, cols)
        assert got == _sorted(ref, cols), f"n_buckets={n_buckets}"
    # empty, whitespace-only and NULL docs emit nothing
    assert {r[0] for r in got} == {
        f"k{i:02d}"
        for i, t in enumerate(TEXTS)
        if t and re.search(r"[^ \t\n\x0b\f\r]", t)
    }


_WORKER = """
import os, pickle, sys
sys.modules["pyairbyte_spark"] = None  # any import of the package fails
repo = sys.argv[1]
assert all(os.path.abspath(p or os.curdir) != repo for p in sys.path)
with open(sys.argv[2], "rb") as f:
    func, batches = pickle.load(f)
out = [b.to_pylist() for b in func(iter(batches))]
with open(sys.argv[3], "wb") as f:
    pickle.dump(out, f)
"""


def test_kernels_run_without_the_package(docs, tmp_path):
    """Each kernel's ``mapInArrow`` function, pickled the way Spark ships
    it, runs in a Python process that cannot import the package: the
    executors need only pyarrow and numpy."""
    from pyspark import cloudpickle

    captured = []
    cls = type(docs)
    orig = cls.mapInArrow

    def capture(self, func, schema, *a, **kw):
        captured.append((func, self))
        return orig(self, func, schema, *a, **kw)

    builds = {
        "minhash": lambda: dedup.minhash_signature(docs, "text", "key"),
        "ngram_ws": lambda: dedup.ngram_hash_rows(docs, "text", "doc_id", 2),
        "ngram_alnum": lambda: dedup.ngram_hash_rows(
            docs, "text", "doc_id", 2, tokens="alnum", distinct=True
        ),
        "postings": lambda: search._postings(docs, "text", "key"),
        "buckets": lambda: text.token_bucket_counts(
            docs, "text", "key", carry=["lang"], n_buckets=16
        ),
    }
    cls.mapInArrow = capture
    try:
        kernels = {}
        for name, build in builds.items():
            captured.clear()
            build()
            (func, inp), = captured
            kernels[name] = (func, inp.toArrow().to_batches(max_chunksize=8))
    finally:
        cls.mapInArrow = orig

    for name, (func, batches) in kernels.items():
        want = [b.to_pylist() for b in func(iter(batches))]
        assert sum(map(len, want)) > 0, name
        src, dst = tmp_path / f"{name}.in", tmp_path / f"{name}.out"
        src.write_bytes(cloudpickle.dumps((func, batches)))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        proc = subprocess.run(
            [sys.executable, "-c", _WORKER, REPO, str(src), str(dst)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
        )
        assert proc.returncode == 0, f"{name}: {proc.stderr[-2000:]}"
        assert pickle.loads(dst.read_bytes()) == want, name
