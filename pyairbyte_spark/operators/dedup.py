"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (the 100 TB story):

- **Exact**: one hash-groupBy shuffle on the content digest; map-side
  partial aggregation applies because the digest is computed pre-shuffle.
- **MinHash+LSH**: per-doc signatures are one Arrow pass with no
  shuffle (``arrow_text``). Banding turns all-pairs O(n²) into a
  self-join on (band_idx, band_hash) — only same-bucket docs shuffle
  together. Buckets are uniformly-hashed, so skew is bounded; a hot
  bucket (giant cluster of identical docs) is handled by AQE skew-join
  splitting.
- **SimHash**: 64-bit signature per doc in one pass; near-dup candidates
  join on band substrings of the signature (4×16-bit bands → Hamming
  distance ≤ 3 guaranteed recall within bands).
- **n-gram Jaccard**: exact verification for candidate pairs — explode
  shingles, equi-join on shingle, count intersections. Used standalone
  for small corpora and as the verify stage after LSH at scale.
- **Embedding cosine**: see ``similarity.py``; near-dup = pairs above a
  cosine threshold.

Hash choice: md5 everywhere — engine-portable (identical in Spark and
DuckDB), which the correctness oracle exploits. MinHash lanes are
32-bit integers read from the digest's first 8 bytes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyairbyte_spark.operators.arrow_text import (
    alnum_words,
    map_text,
    md5_prefixes,
    words,
)
from pyairbyte_spark.operators.text import normalize_text_expr

# -- exact ------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, cols: list[str], *, id_col: str
) -> DataFrame:
    """Keep one row per exact content match (lowest id wins).

    One shuffle on the digest; the winner choice is deterministic
    (min id), unlike ``dropDuplicates`` which is arrival-order dependent.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    w_df = df.withColumn("__digest", digest)
    keepers = w_df.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return (
        w_df.join(keepers, ["__digest", id_col], "inner").drop("__digest")
    )


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Digest → (n_docs, keeper_id) for groups, largest first."""
    digest = F.md5(normalize_text_expr(text_col))
    return (
        df.select(digest.alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


# -- shingles ---------------------------------------------------------------


def word_shingles_expr(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingle array (space-joined)."""
    toks = F.split(normalize_text_expr(col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    # try_element_at: out-of-range → NULL (matches SQL list indexing;
    # concat_ws skips NULLs in both engines), ANSI-safe.
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.try_element_at(toks, i + j) for j in range(k)]
    )
    return F.array_distinct(F.transform(idx, shingle))


def shingles_df(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) exploded, with the token array materialized FIRST.

    Higher-order functions are interpreted (not codegen'd) in Spark, and
    common-subexpression elimination does not reach inside their
    lambdas — inlining ``split(normalize(text))`` into the shingle
    lambda re-evaluates the split per element. The explicit projection
    boundary here evaluates tokenization once per row.
    """
    tdf = df.select(
        F.col(id_col), F.split(normalize_text_expr(text_col), " ").alias("__toks")
    )
    # ONE parsed SQL expression instead of composing the transform
    # lambda through the Column API: every F.* call is a py4j driver
    # round-trip, and this builder runs 2-4x per index lifecycle —
    # the string parses to the identical plan (same explode /
    # array_distinct / transform / concat_ws tree) for ~1 round-trip
    # instead of dozens.
    parts = ", ".join(
        "try_element_at(__toks, i)" if j == 0
        else f"try_element_at(__toks, i + {j})"
        for j in range(k)
    )
    return tdf.selectExpr(
        f"`{id_col}`",
        "explode(array_distinct(transform("
        f"sequence(1, greatest(size(__toks) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})))) AS shingle",
    )


# -- MinHash + LSH ----------------------------------------------------------


def minhash_signature(
    df: DataFrame, text_col: str, id_col: str, *, num_hashes: int = 12, k: int = 3
) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over shingles of
    h_i(shingle), where h_i = (a + i·b) mod 2³² and (a, b) are two
    32-bit lanes of ONE md5 per shingle (Kirsch-Mitzenmacher double
    hashing: k-wise hash families from two base hashes, so the digest
    work per shingle is constant in ``num_hashes``, not linear).

    One ``arrow_text`` pass with no shuffle; the values equal the
    ``shingles_df`` lanes min-aggregated per id. Shingles are the
    distinct word ``k``-grams of ``normalize_text_expr(text)`` over
    positions 1..greatest(m-k+1, 1), so a short doc emits ONE partial
    shingle, and NULL text normalizes like '' (every row gets a
    signature, the md5('') degenerate included). a/b are
    conv(substring(md5, 1, 8)) / (9, 8). ``id_col`` is a row key."""

    lanes = np.arange(num_hashes, dtype=np.uint32).reshape(-1, 1)

    def emit(t):
        toks = list(filter(None, words(t, lower=True))) or [b""]
        m = len(toks) - k + 1
        shingles = (
            {b" ".join(toks[p : p + k]) for p in range(m)}
            if m >= 1
            else {b" ".join(toks)}
        )
        h = md5_prefixes(shingles, 64)
        a = (h >> np.uint64(32)).astype(np.uint32)
        b = h.astype(np.uint32)  # the low lane; uint32 math wraps mod 2^32
        return ([(a + lanes * b).min(axis=1).tolist()],)

    return map_text(
        df,
        F.coalesce(F.col(text_col), F.lit("")),
        [id_col],
        [("sig", pa.list_(pa.int64()))],
        lambda: emit,
    )


def lsh_bands(
    sig_df: DataFrame, id_col: str, *, bands: int = 4, rows: int = 3
) -> DataFrame:
    """Signature → (id, band_idx, band_hash). Docs sharing any band
    bucket are candidate near-dups.

    Bands are emitted by ONE explode over an inline array — not a
    bands-way union, which would recompute the signature aggregation
    once per band.
    """
    # One parsed SQL expression (the same named_struct/explode tree the
    # Column API built through ~10 py4j round-trips per band).
    structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', "
        "md5(concat_ws('|', "
        + ", ".join(
            f"CAST(element_at(sig, {b * rows + r + 1}) AS STRING)"
            for r in range(rows)
        )
        + ")))"
        for b in range(bands)
    )
    return sig_df.selectExpr(
        f"`{id_col}`", f"explode(array({structs})) AS b"
    ).selectExpr(
        f"`{id_col}`",
        "b.band_idx AS band_idx",
        "b.band_hash AS band_hash",
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    max_bucket_size: int | None = 65536,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_bands matched).

    The self-join keys on (band_idx, band_hash): only same-bucket docs
    meet — the LSH trick that makes near-dup mining feasible at 100 TB.

    ``max_bucket_size`` bounds the output cardinality: a pathological
    band bucket with B members (template spam that survives exact
    dedup because of per-document boilerplate variation) would emit
    O(B²) candidate pairs — AQE skew-join splitting distributes that
    work but cannot shrink it. Buckets above the cap are dropped
    entirely before the self-join (one aggregate + one broadcast
    anti-join; hot buckets are by construction few, so the anti-join
    side is tiny). Members of a dropped bucket still pair through
    their other ``bands - 1`` band buckets, and a cluster THAT dense
    is exact-dedup's job, not near-dup mining's. ``None`` disables
    the cap.
    """
    rows = num_hashes // bands
    b = lsh_bands(
        minhash_signature(df, text_col, id_col, num_hashes=num_hashes, k=k),
        id_col,
        bands=bands,
        rows=rows,
    )
    # Materialize the signature+bands pipeline ONCE: it feeds the
    # hot-bucket aggregate AND both self-join sides, and the planner's
    # broadcast of one side is never exchange-reused against the
    # other — without this the whole shingle/md5/min-hash derivation
    # executes up to three times. Lazy checkpoint: one materialization,
    # every consumer reads the blocks.
    b = b.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        hot = (
            b.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        b = b.join(F.broadcast(hot), ["band_idx", "band_hash"], "left_anti")
    left = b.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    right = b.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band_idx").alias("n_bands"))
    )


# -- SimHash ----------------------------------------------------------------

_HEX_CHARS = "0123456789abcdef"


def simhash_signature(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per doc, emitted as a 16-hex-char string.

    Relational formulation: explode word tokens (term frequency =
    weight), take the first 16 hex chars of each token's md5 (4 bits
    per hex char), then ONE groupBy(doc) computing all 64 bit-votes as
    ``sum(case bit set → +1 else -1)`` aggregates — a single shuffle on
    the doc id regardless of signature width. Signature bit j is set
    iff its vote is positive.

    Hex-string output avoids BIGINT sign overflow for the top bit and
    is engine-portable (same md5/substr/bit arithmetic in the SQL
    oracle).
    """
    # The 64 bit-votes used to re-slice the hex string per bit (64
    # substring+conv evaluations per token row). Decode the same 64
    # hash bits ONCE into two 32-bit integer lanes; each vote is then
    # a shift+mask on a long — identical bits (char p of the hex is
    # nibble 8-p of its lane, so bit j = lane >> (31-j or 63-j) & 1),
    # ~30x less per-row expression work in the partial aggregation
    # (guide §1.2 step 2: per-task work).
    exploded = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text_expr(text_col), " ")).alias("tok"),
    ).select(
        F.col(id_col), F.md5(F.col("tok")).alias("m")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.col("m"), 1, 8), 16, 10)
        .cast("long")
        .alias("__hi"),
        F.conv(F.substring(F.col("m"), 9, 8), 16, 10)
        .cast("long")
        .alias("__lo"),
    )

    aggs = []
    for j in range(64):
        lane = F.col("__hi") if j < 32 else F.col("__lo")
        shift = (31 - j) if j < 32 else (63 - j)
        bit_set = F.shiftright(lane, shift).bitwiseAND(F.lit(1)) == 1
        aggs.append(
            F.sum(F.when(bit_set, 1).otherwise(-1)).alias(f"v{j}")
        )
    votes = exploded.groupBy(id_col).agg(*aggs)

    digit_chars = []
    for d in range(16):
        val = F.lit(0)
        for b in range(4):
            j = d * 4 + b
            val = val + F.when(F.col(f"v{j}") > 0, F.lit(2 ** (3 - b))).otherwise(F.lit(0))
        digit_chars.append(F.substring(F.lit(_HEX_CHARS), 1, 16).substr(val + 1, F.lit(1)))
    return votes.select(
        F.col(id_col), F.concat(*digit_chars).alias("simhash")
    )


def simhash_hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-hex-char signatures: per-digit
    popcount of XOR."""
    total = F.lit(0)
    for d in range(1, 17):
        da = F.conv(F.substring(a, d, 1), 16, 10).cast("int")
        db = F.conv(F.substring(b, d, 1), 16, 10).cast("int")
        total = total + F.bit_count(da.bitwiseXOR(db))
    return total


def simhash_neardup_pairs(
    sig_df: DataFrame, id_col: str, *, max_hamming: int = 6, band_chars: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates must share one of four
    4-hex-char bands (16 bits) of the signature — pigeonhole guarantees
    recall for Hamming ≤ 3; candidates then filter on exact Hamming.
    The band join keeps this O(collisions), not O(n²).
    """
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.substring(F.col("simhash"), b * band_chars + 1, band_chars).alias("band"),
        )
        for b in range(4)
    ]
    all_bands = sig_df.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_structs)).alias("b")
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band").alias("band"),
    )
    left = all_bands.select(
        "band_idx", "band", F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a")
    )
    right = all_bands.select(
        "band_idx", "band", F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b")
    )
    return (
        left.join(right, ["band_idx", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn(
            "hamming", simhash_hamming_expr(F.col("sig_a"), F.col("sig_b")).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- near-dup clustering ----------------------------------------------------


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-dup candidate PAIRS into components: (node,
    component) where component = min node id reachable — the step that
    turns pairwise LSH output into dedup groups (keep one doc per
    component).

    Iterative min-label propagation as plain DataFrame ops: each round
    every node takes the min label across itself and its neighbors;
    converges in O(graph diameter) rounds (near-dup clusters are
    shallow — duplicates of duplicates — so this is small). Each round
    is one join + one groupBy; the driver only runs the convergence
    check. At 100 TB this is the standard label-propagation shape
    (GraphX/GraphFrames CC uses the same plan); labels and edges
    partition by node id.

    Each round's labels are eagerly ``localCheckpoint``-ed so the plan
    stays ONE round deep: without this, round N rebuilds rounds 1..N-1
    from lineage (O(iter²) recomputation and an analyzer that slows
    down every round). The convergence check reads the SAME
    checkpointed frame — the old label rides along as ``__old`` — so
    it costs one cheap scan of materialized blocks, not a re-execution,
    and no extra join. The edge set is checkpointed once up front for
    the same reason (it feeds every round).
    """
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    ckpt_prev = labels  # materializes during round 1
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            stepped.filter(F.col("label") != F.col("__old")).limit(1).count()
        )
        # The new round is materialized; the superseded round's blocks
        # can go NOW — the ContextCleaner would only reclaim them at
        # driver-GC time, so long sessions (oracle sweeps, repeated
        # clustering calls) would otherwise pile up one block set per
        # round in executor storage.
        _release_local_checkpoint(ckpt_prev)
        ckpt_prev = stepped
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    # The result derives from the final (kept) checkpoint only; the
    # edge blocks are no longer reachable from it.
    _release_local_checkpoint(edges)
    return labels.select(F.col("node"), F.col("label").alias("component"))


def _release_local_checkpoint(df: DataFrame) -> None:
    """Eagerly free a ``localCheckpoint``'s storage blocks.

    ``DataFrame.unpersist`` only consults the cache manager and is a
    no-op for checkpointed frames; their blocks normally live until the
    driver garbage-collects the RDD handle. Best-effort: falls back to
    GC-time cleanup if the internal plan shape ever changes.
    """
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 - cleanup must never fail the job
        pass


# -- n-gram Jaccard ---------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold: float = 0.2,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over word k-gram shingle sets.

    explode → equi-join on shingle → |A∩B| via count, |A∪B| via sizes.
    Only docs sharing ≥1 shingle ever pair up (the join prunes the
    O(n²) space); at scale run after LSH candidate generation instead.

    ``max_doc_frequency``: drop shingles shared by more than this many
    documents before the self-join (Jaccard is then computed over the
    capped shingle universe — sizes shrink with the intersection, so the
    metric stays a true Jaccard of the filtered sets). A shingle in k
    docs contributes k² join rows; at web scale stop-phrase shingles
    ("of the and …") make k huge while carrying zero discriminative
    signal, so the cap bounds join fan-out at ``cap²`` per shingle.
    """
    # Join on a 64-bit shingle hash, not the shingle string: the key is
    # engine-internal (never output), so this only narrows the shuffle
    # and cheapens the equi-comparison; a 64-bit collision would need
    # ~2^32 distinct shingles to become likely. Per-doc set sizes ride
    # the shingle rows via a doc-partitioned window, so the pair
    # aggregation carries |A| and |B| itself — no separate sizes scan
    # and no post-join re-joins (one tokenization pass total, and the
    # windowed subplan feeds both self-join sides through one reused
    # exchange).
    from pyspark.sql import Window

    sh = shingles_df(df, text_col, id_col, k).select(
        F.col(id_col).alias("doc"), F.xxhash64("shingle").alias("sh")
    )
    if max_doc_frequency is not None:
        # Shingles are distinct per doc (shingles_df array_distincts),
        # so a per-shingle count IS document frequency. The DF window
        # shuffles by sh — the same key the self-join below needs, so
        # the exchange is amortized, and the filter runs before the
        # quadratic fan-out ever materializes.
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
            .filter(F.col("__df") <= F.lit(max_doc_frequency))
            .drop("__df")
        )
    sh = sh.withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    # (Measured, r14 session 2: checkpointing `sh` before the
    # self-join is a ~0.6s REGRESSION at sf0.1 and neutral at sf1 —
    # the duplicated subtree is the broadcast-build side and streams
    # concurrently, cheaper than materializing the exploded rows. At
    # cluster scale the join stops broadcasting and ReuseExchange
    # collapses the identical shuffle subtrees instead.)
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.sz")).alias("sz_a"),
            F.first(F.col("b.sz")).alias("sz_b"),
        )
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_duplication_coverage(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-document n-gram duplication coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): for each document, the fraction of its DISTINCT
    token n-grams that also occur in at least one OTHER document — the
    standard signal for near-duplicate and template-heavy content that
    whole-document dedup misses.

    Returns (``id_col``, n_grams, n_dup_grams, dup_fraction) for
    documents with at least one n-gram (≥ n tokens); higher fraction =
    more duplicated content.

    Scale: one ``ngram_hash_rows`` pass emits each doc's distinct
    grams (≤ tokens per doc), then ONE gram-keyed aggregate (map-side
    combine) and one join back — the same two-shuffle shape as TF-IDF.
    Grams are 60-bit ints (md5 prefix — identical in both engines, so
    the oracle counts the same keys; contamination_check's trick), so
    the aggregate and the join back shuffle 8-byte longs instead of
    ~50-byte gram strings — measured 537s → 43s at 125k replicated
    docs, and the gap widens with corpus size.
    Collisions merge grams identically in both engines (60-bit space;
    negligible and oracle-exact either way).
    """
    g = ngram_hash_rows(docs, text_col, id_col, n, tokens="alnum", distinct=True)
    df_count = g.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    return (
        g.join(df_count, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_dup_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6
            ).alias("dup_fraction"),
        )
    )


def ngram_hash_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    *,
    tokens: str = "ws",
    distinct: bool = False,
) -> DataFrame:
    """Exploded (id: long, gram) rows -- gram the 60-bit md5 prefix of
    each token ``n``-gram -- in one ``arrow_text`` pass.
    ``tokens="ws"`` mirrors ``text.ngrams_expr`` (whitespace split of
    trimmed text, every position); ``tokens="alnum"`` mirrors the
    ngram-dup tokenizer (lowercased non-alphanumeric split, empties
    dropped); ``distinct`` emits each gram once per id
    (``array_distinct`` parity). The grams hash the same bytes Spark's
    ``conv(substring(md5(gram), 1, 15), 16, 10)`` does, so the oracles'
    cross-engine collision guarantee holds."""
    tokenize = words if tokens == "ws" else alnum_words

    def emit(t):
        toks = tokenize(t)
        grams = [b" ".join(toks[p : p + n]) for p in range(len(toks) - n + 1)]
        if distinct:
            grams = dict.fromkeys(grams)
        return (md5_prefixes(grams, 60).tolist(),)

    src = df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col))
    return map_text(src, text_col, ["id"], [("gram", pa.int64())], lambda: emit)


# -- persisted MinHash-LSH index (dedup at ingest) ---------------------------
# The batch miner above (minhash_lsh_candidates) answers "which pairs
# in THIS frame are near-dups" — O(corpus) per run. A growing corpus
# asks the other question: "is this NEW batch a near-dup of anything
# already ingested?" — which must not rescan 100 TB per batch. Same
# move as the IVF/PQ vector indexes (operators/similarity.py): persist
# the band buckets in a CommitLogTableStore, cluster them on disk so
# zone maps prune probes to the touched buckets' files, and append new
# docs in O(batch). (No reference analog; Lee et al.'s dedup pipeline
# and Delta's zone-map pruning are the public patterns composed here.)


def build_minhash_index(
    corpus: DataFrame,
    store,
    index_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    target_files: int | None = None,
    source_table: str | None = None,
    synced_version: int | None = None,
    source_ref: str | None = None,
    source_ref_id: str | None = None,
) -> dict:
    """Materialize a MinHash-LSH near-dup index into ``store``:

    - ``<name>_bands`` (band_idx, band_hash, id) — compacted with
      ``sort_by=["band_hash"]`` so every bucket occupies a contiguous
      file range and probes prune to the touched buckets' files via
      the manifest zone maps (the dedup analogue of IVF list pruning);
    - ``<name>_sigs`` (id, h0..h{n-1}) — full signatures, one row per
      doc, for the signature-agreement estimate probes verify with;
    - ``<name>_meta`` — the hash-family parameters, so appends and
      probes are bit-compatible with the build without the caller
      re-stating them.

    Build cost is the batch miner's signature pass (one Arrow pass, no
    shuffle); probe cost is O(touched buckets), not O(corpus). Returns
    ``{"n_docs", "files"}``.
    """
    spark = corpus.sparkSession
    rows = num_hashes // bands
    sig = minhash_signature(
        corpus, text_col, id_col, num_hashes=num_hashes, k=k
    ).localCheckpoint()  # bands + sigs both derive from this one pass
    band_rows = lsh_bands(sig, id_col, bands=bands, rows=rows).select(
        F.col("band_idx"),
        F.col("band_hash"),
        F.col(id_col).alias("id"),
        F.lit(1).cast("long").alias("sign"),
    )
    sig_cols = sig.select(
        F.col(id_col).alias("id"),
        *[F.element_at("sig", i + 1).alias(f"h{i}") for i in range(num_hashes)],
        F.lit(0).cast("long").alias("seq"),
    )
    from pyairbyte_spark.writers import LocalRows

    # driver-resident meta row: staged without a Spark job
    meta = LocalRows(
        [
            (
                int(num_hashes),
                int(bands),
                int(k),
                id_col,
                text_col,
                source_table,
                synced_version,
                source_ref,
                source_ref_id,
            )
        ],
        "num_hashes int, bands int, k int, id_col string, "
        "text_col string, source_table string, synced_version long, "
        "source_ref string, source_ref_id string",
    )
    from pyairbyte_spark.writers import run_concurrently

    # One clustered write: bands land range-partitioned on band_hash
    # with the sorted_by stamp AND the cluster_by property in a single
    # staged write + commit (was write → compact rewrite → property
    # commit: every byte written twice). Appends still range-sort at
    # staging, so the coverage watermark holds at 1.0. Bands and sigs
    # are INDEPENDENT tables derived from the same checkpointed
    # signature blocks — their writes overlap (per-table commit logs
    # commute; the sigs job back-fills the bands shuffle's tail).
    run_concurrently(
        lambda: store.write_replace_clustered(
            band_rows,
            f"{index_name}_bands",
            cluster_by=["band_hash"],
            target_files=target_files,
        ),
        lambda: store.write_replace(sig_cols, f"{index_name}_sigs"),
    )
    store.write_replace(meta, f"{index_name}_meta")
    st = store.table_stats(f"{index_name}_sigs")
    plan = store.plan_scan(f"{index_name}_bands")
    return {"n_docs": st["rows"], "files": plan["files_total"]}


def _minhash_index_meta(store, index_name: str) -> dict:
    # 1-row protocol table: the driver-local read answers without a
    # Spark job (meta size is O(1) in corpus size); any precondition
    # miss falls back to the distributed read.
    rows = getattr(store, "read_rows_local", lambda t: None)(
        f"{index_name}_meta"
    )
    if rows:
        return rows[0]
    return store.read(f"{index_name}_meta").collect()[0].asDict()


def append_to_minhash_index(
    new_docs: DataFrame,
    store,
    index_name: str,
    *,
    txn: "tuple[str, int] | None" = None,
    allow_oob: bool = False,
) -> dict:
    """Incremental maintenance, O(batch): signature the new docs with
    the STORED hash family and append to the bands and sigs tables —
    ATOMICALLY, as one multi-table txn group (a probe racing the
    append sees both tables move together; a crash between the two
    appends leaves neither). ``txn=(app_id, batch_id)`` composes for
    exactly-once streaming ingest: the watermark rides the bands
    prepare inside the group, so a replayed batch skips the WHOLE
    group and a crash before the decision replays it in full.

    Builds set write-time clustering on the bands table, so appends
    range-sort on band_hash at staging and the probe-pruning coverage
    watermark holds at 1.0; with the property cleared they land
    unclustered — exact (zone maps are conservative), just less
    pruned — until :func:`refresh_minhash_index` reclusters ONLY the
    appended tail (O(tail)). :func:`minhash_index_coverage` is the
    watermark to alert on; :func:`minhash_index_health` adds the
    hot-band skew signal. Returns ``{"appended", "skipped"}``.

    ATTACHED indexes (meta records a ``source_table``) refuse
    out-of-band appends unless ``allow_oob=True``, which records
    ``oob_appends`` in the meta (same txn group) and switches every
    later :func:`sync_minhash_index` to exact netted index-side
    retraction derivation — see ``search._guard_oob_append``.
    """
    from pyairbyte_spark.operators.search import _guard_oob_append

    m = _minhash_index_meta(store, index_name)
    flag = _guard_oob_append(
        store,
        index_name,
        m,
        allow_oob,
        label="minhash index",
        sync_fn="sync_minhash_index",
    )
    rows = m["num_hashes"] // m["bands"]
    sig = minhash_signature(
        new_docs,
        m["text_col"],
        m["id_col"],
        num_hashes=m["num_hashes"],
        k=m["k"],
    ).localCheckpoint()
    band_rows = lsh_bands(
        sig, m["id_col"], bands=m["bands"], rows=rows
    ).select(
        F.col("band_idx"),
        F.col("band_hash"),
        F.col(m["id_col"]).alias("id"),
        F.lit(1).cast("long").alias("sign"),
    )
    sig_cols = sig.select(
        F.col(m["id_col"]).alias("id"),
        *[
            F.element_at("sig", i + 1).alias(f"h{i}")
            for i in range(m["num_hashes"])
        ],
        F.lit(0).cast("long").alias("seq"),
    )
    t = store.begin_txn()
    r1 = t.write_append(band_rows, f"{index_name}_bands", txn=txn)
    if r1.get("skipped"):
        t.abort()  # replayed batch: neither table moves
        return {"appended": 0, "skipped": True}
    t.write_append(sig_cols, f"{index_name}_sigs", txn=txn)
    if flag is not None:
        t.write_replace(flag, f"{index_name}_meta")
    t.commit()
    return {"appended": 1, "skipped": False}


# Above this many distinct probe band-hashes, the IN-literal pruned
# scan stops paying (predicate rendering + driver transfer) — fall
# back to a relational join against the full bands table (one scan,
# no driver round-trip). Probes are query BATCHES; typical ingest
# checks stay far below this.
MINHASH_PROBE_LITERAL_MAX = 4096


def attach_minhash_index(
    store,
    table_name: str,
    index_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    target_files: int | None = None,
    ref: str | None = None,
) -> dict:
    """Build the dedup index FROM a store table and record the snapshot
    version it covers — :func:`sync_minhash_index` then maintains it
    from the table's change feed. ``ref`` attaches to a BRANCH of the
    table (see ``attach_text_index``): the index follows the branch
    and re-homes onto main at the next sync after a publish. Index
    tables always live on main — ``store`` must be the main view."""
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
    return build_minhash_index(
        src.read_version(table_name, v),
        store,
        index_name,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        target_files=target_files,
        source_table=table_name,
        synced_version=v,
        source_ref=ref,
        source_ref_id=ref_id,
    )


def _minhash_rebuild(store, table, index_name, m, ref):
    attach_minhash_index(
        store,
        table,
        index_name,
        id_col=m["id_col"],
        text_col=m["text_col"],
        num_hashes=m["num_hashes"],
        bands=m["bands"],
        k=m["k"],
        ref=ref,
    )


def _minhash_sync_plan(ctx) -> dict:
    """MinHash-family row derivation for ``_sync_derived_index``:
    deleted/updated docs retract as NEGATED band rows (re-signed from
    the old snapshot with the STORED hash family on the primary path;
    netted sum(sign) per (band, doc) on the fallback — the netted
    magnitude covers out-of-band duplicate appends); inserts/updates
    append fresh bands (+1) and fresh signatures stamped ``seq =
    head`` (probe verification picks each candidate's newest
    signature)."""
    m, index_name, head = ctx.m, ctx.index_name, ctx.head
    id_col, text_col = m["id_col"], m["text_col"]
    nh = m["num_hashes"]
    rows = nh // m["bands"]
    if ctx.old_removed is not None:
        old_sig = minhash_signature(
            ctx.old_removed, text_col, id_col, num_hashes=nh, k=m["k"]
        )
        tombstones = lsh_bands(
            old_sig, id_col, bands=m["bands"], rows=rows
        ).select(
            F.col("band_idx"),
            F.col("band_hash"),
            F.col(id_col).alias("id"),
            F.lit(-1).cast("long").alias("sign"),
        )
    else:
        tombstones = (
            ctx.store.read(f"{index_name}_bands")
            .join(ctx.removed, "id", "left_semi")
            .groupBy("band_idx", "band_hash", "id")
            .agg(F.sum("sign").alias("__s"))
            .filter(F.col("__s") > 0)
            .select(
                "band_idx",
                "band_hash",
                "id",
                # retract the NETTED magnitude (a doc appended twice
                # nets +2; a -1 retraction would leave it matching
                # probes), mirroring the text index's netted tf/dl
                (-F.col("__s")).cast("long").alias("sign"),
            )
        )
    sig = minhash_signature(
        ctx.added, text_col, id_col, num_hashes=nh, k=m["k"]
    )
    if not getattr(ctx.diff, "_sg_provably_empty", False):
        # bands + sigs both derive from sig; materialize once — unless
        # the window is provably empty, where even the empty frame's
        # checkpoint would cost a scheduler round-trip
        sig = sig.localCheckpoint()
    new_bands = lsh_bands(
        sig, id_col, bands=m["bands"], rows=rows
    ).select(
        F.col("band_idx"),
        F.col("band_hash"),
        F.col(id_col).alias("id"),
        F.lit(1).cast("long").alias("sign"),
    )
    new_sigs = sig.select(
        F.col(id_col).alias("id"),
        *[F.element_at("sig", i + 1).alias(f"h{i}") for i in range(nh)],
        F.lit(int(head)).cast("long").alias("seq"),
    )
    from pyairbyte_spark.writers import LocalRows

    # driver-resident meta row: staged without a Spark job
    meta = LocalRows(
        [
            (
                int(nh),
                int(m["bands"]),
                int(m["k"]),
                id_col,
                text_col,
                ctx.table,
                head,
                ctx.ref,
                ctx.ref_id,
                ctx.oob,
            )
        ],
        "num_hashes int, bands int, k int, id_col string, "
        "text_col string, source_table string, synced_version long, "
        "source_ref string, source_ref_id string, oob_appends boolean",
    )
    from pyairbyte_spark.operators.search import _diff_change_counts

    n_removed, n_added = _diff_change_counts(ctx.diff)
    return {
        "watermark": (
            tombstones.unionByName(new_bands),
            f"{index_name}_bands",
        ),
        # no new docs -> the sigs append would stage an empty dir and
        # burn a commit slot for nothing
        "appends": (
            [(new_sigs, f"{index_name}_sigs")] if n_added else []
        ),
        "replaces": [(meta, f"{index_name}_meta")],
        "docs_changed": n_removed + n_added,
    }


def _minhash_sync_spec():
    from pyairbyte_spark.operators.search import _SyncSpec

    return _SyncSpec(
        label="minhash index",
        attach_name="attach_minhash_index",
        read_meta=_minhash_index_meta,
        payload_cols=lambda m: [m["text_col"]],
        rebuild=_minhash_rebuild,
        build_plan=_minhash_sync_plan,
    )


def sync_minhash_index(
    store, index_name: str, *, diff_cache: dict | None = None
) -> dict:
    """Catch the dedup index up to its source table's CURRENT snapshot
    — one ``search._sync_derived_index`` run with the MinHash family's
    row derivation (:func:`_minhash_sync_plan`): bands + sigs + cursor
    (meta) move as ONE txn group under the bands SetTransaction
    watermark CAS; unsafe collapse windows rebuild. Returns
    ``{"synced_from", "synced_to", "docs_changed"}`` (plus ``raced`` /
    ``rebuilt`` on those paths)."""
    from pyairbyte_spark.operators.search import _sync_derived_index

    return _sync_derived_index(
        store, index_name, _minhash_sync_spec(), diff_cache=diff_cache
    )


def _bands_have_tombstones(store, index_name: str) -> bool:
    """True unless the bands table's manifest stats PROVE min(sign) >= 0
    over every live file — one O(manifest) metadata read, no data I/O.
    Conservative: the proof additionally requires every live file to
    actually CARRY a sign stat (per-column statted-file count ==
    table file count); a stat-less legacy file could hold -1 rows the
    aggregate never saw."""
    st = store.table_stats(f"{index_name}_bands")
    sign = (st.get("columns") or {}).get("sign")
    return not (
        sign is not None
        and sign.get("min") is not None
        and sign["min"] >= 0
        and st.get("files") is not None
        and sign.get("files") == st["files"]
    )


def minhash_index_matches(
    store,
    index_name: str,
    queries: DataFrame,
    *,
    min_bands: int = 1,
    min_agree: int | None = None,
) -> DataFrame:
    """Probe the index: which already-ingested docs is each query doc
    a near-dup of? Returns (query_id, match_id, n_bands, n_agree) —
    ``n_agree`` of ``num_hashes`` signature positions agree (the
    unbiased Jaccard estimate is ``n_agree / num_hashes``; filter with
    ``min_agree``).

    Plan shape: query band hashes cross the driver (bounded by
    |queries| x bands, the IVF probe-cid contract) into a
    ``read_where(band_hash IN ...)`` that opens ONLY the files whose
    zone maps cover a probed bucket; above
    :data:`MINHASH_PROBE_LITERAL_MAX` hashes it degrades to one full
    bands scan with a relational semi-join (exact either way). The
    signature verify joins only the CANDIDATE ids against the sigs
    table. Self-matches (same id both sides) are dropped.
    """
    m = _minhash_index_meta(store, index_name)
    nh = m["num_hashes"]
    rows = nh // m["bands"]
    qsig = minhash_signature(
        queries, m["text_col"], m["id_col"], num_hashes=nh, k=m["k"]
    ).localCheckpoint()
    qbands = lsh_bands(qsig, m["id_col"], bands=m["bands"], rows=rows).select(
        F.col("band_idx"),
        F.col("band_hash"),
        F.col(m["id_col"]).alias("query_id"),
    )
    # one partial+final aggregation, not distinct().collect() (same
    # bytes cross the driver, one less AQE job per probe)
    probe_hashes = sorted(
        qbands.agg(F.collect_set("band_hash")).collect()[0][0]
    )
    if len(probe_hashes) <= MINHASH_PROBE_LITERAL_MAX:
        idx = store.read_where(
            f"{index_name}_bands", [("band_hash", "in", probe_hashes)]
        )
    else:  # degrade: full scan + relational filter, no driver literals
        idx = store.read(f"{index_name}_bands").join(
            qbands.select("band_hash").distinct(), "band_hash", "left_semi"
        )
    # Tombstone fold (sync_minhash_index retracts a doc's bands by
    # appending them negated): a (band, doc) is live iff its signs net
    # positive. Untouched docs have one +1 row and fold to themselves.
    # FAST PATH: when the manifest's zone maps PROVE no negative sign
    # exists (min(sign) >= 0 across live files — pure metadata), the
    # fold is skipped entirely — tombstone-free indexes (fresh builds,
    # post-fold) pay zero tax. Safe because duplicate +1 rows can't
    # change the candidate set (countDistinct(band_idx) below dedups).
    if _bands_have_tombstones(store, index_name):
        idx = (
            idx.groupBy("band_idx", "band_hash", "id")
            .agg(F.sum("sign").alias("__s"))
            .filter(F.col("__s") > 0)
            .drop("__s")
        )
    else:
        idx = idx.drop("sign")
    cand = (
        qbands.join(idx, ["band_idx", "band_hash"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("match_id"))
        .agg(F.countDistinct("band_idx").alias("n_bands"))
        .filter(F.col("n_bands") >= min_bands)
        # Materialize once: cand feeds the sigs semi-join AND the final
        # agreement join, and the optimizer pushes the semi-join below
        # the sigs union — without this the whole bands-probe aggregate
        # re-executed once per sigs entry plus once for the final join
        # (captured plan: three identical probe subtrees).
        .localCheckpoint(eager=False)
    )
    # Verify against each candidate's NEWEST signature (updated docs
    # re-sign with seq = the sync's source version; h0 breaks exact
    # re-ingest ties deterministically). Restricting to candidate ids
    # FIRST keeps the newest-wins window O(candidates), not O(index).
    # Broadcast the candidate ids (bounded by the probe contract):
    # a broadcast semi-join keeps the sigs scan in place — no
    # exchange+sort per union branch — and ReuseExchange shares the
    # one broadcast across every branch the pushdown clones it into.
    sigs = (
        store.read(f"{index_name}_sigs")
        .join(
            F.broadcast(
                cand.select(F.col("match_id").alias("id")).distinct()
            ),
            "id",
            "left_semi",
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.desc("seq"), F.desc("h0")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    qs = qsig.select(
        F.col(m["id_col"]).alias("query_id"),
        *[F.element_at("sig", i + 1).alias(f"q{i}") for i in range(nh)],
    )
    agree = sum(
        (F.col(f"q{i}") == F.col(f"h{i}")).cast("long") for i in range(nh)
    )
    out = (
        cand.join(sigs, cand["match_id"] == sigs["id"])
        .join(qs, "query_id")
        .select(
            "query_id",
            "match_id",
            "n_bands",
            agree.alias("n_agree"),
        )
    )
    if min_agree is not None:
        out = out.filter(F.col("n_agree") >= min_agree)
    return out


def jaccard_similarity_join(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search"): every pair of docs whose word-SET Jaccard ≥ ``threshold``
    — no candidate missed, unlike MinHash-LSH's probabilistic recall
    or ``ngram_jaccard_pairs``' DF-capped candidate generation. The
    prefix-filter lemma: order every doc's tokens by one GLOBAL rank
    (rarest first); two sets with Jaccard ≥ t must share a token among
    each one's first ``n - ceil(t·n) + 1`` tokens — so only prefix
    tokens (the rare ones, tiny posting lists) generate candidates,
    and the verify step computes the true intersection.

    Returns (id_a, id_b, n_inter, n_union, jaccard), id_a < id_b.

    Scale shape: one token-frequency aggregate (shuffle on token), one
    per-doc sort (shuffle on id), then ONLY (id, n, prefix-token) rows
    shuffle into the candidate join — full token arrays rejoin per
    surviving PAIR, never per candidate-token. Threshold math is pure
    integer (``ceil(t·n)`` and the Jaccard test as cross-multiplied
    ints via a rational approximation of ``threshold``), so results
    are bit-identical across engines and never lose a boundary pair to
    float rounding.

    ``shingle_k`` switches the set elements from single words to word
    k-gram shingles — positional context that keeps sets discriminative
    on template-heavy corpora where bag-of-words Jaccard saturates (the
    same reason MinHash shingles; ``word_shingles_expr``).

    Set elements are reduced to 60-bit md5 hashes BEFORE any shuffle
    (the portable ``conv(substring(md5(x),1,15),16,10)`` long — same
    trade ``ngram_jaccard_pairs`` makes): frequency agg, per-doc sort,
    candidate join, and intersection all run on longs, never on
    shingle strings. Collision odds at 2^60 are negligible against
    corpus sizes this self-join is sane for.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator
    if shingle_k:
        elems = word_shingles_expr(text_col, k=shingle_k)
    else:
        elems = F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        )
    hashed = F.array_distinct(
        F.transform(
            elems,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "bigint"
            ),
        )
    )
    spark = docs.sparkSession
    want_parts = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < want_parts:
        # Shingle hashing is the CPU-heavy per-row step; a small input
        # (one parquet file) would otherwise evaluate it on one core.
        # At scale the source already has >= cores partitions and this
        # never fires — no gratuitous shuffle of big text.
        docs = docs.repartition(want_parts)
    toks = docs.select(
        F.col(id_col).alias("id"), hashed.alias("raw")
    ).filter(F.size("raw") > 0)
    # the tokenize+hash projection feeds both the frequency agg and the
    # per-doc sort — evaluate it once
    toks = toks.localCheckpoint(eager=False)
    flat = toks.select("id", F.explode("raw").alias("tok"))
    freq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        flat.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .select("id", "toks", F.size("toks").alias("n"))
    )
    ordered = ordered.localCheckpoint(eager=False)  # prefix + verify read it
    # integer ceil: ceil(num*n/den) = (num*n + den - 1) div den
    k = F.col("n") - ((F.col("n") * num + (den - 1)) / den).cast("long") + 1
    pref = ordered.select(
        "id", "n", F.explode(F.slice("toks", 1, k.cast("int"))).alias("tok")
    )
    a = pref.select(
        F.col("id").alias("id_a"), F.col("n").alias("na"), "tok"
    )
    b = pref.select(
        F.col("id").alias("id_b"), F.col("n").alias("nb"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: |a∩b| ≤ min(na,nb), so J ≥ t needs
            # t·na ≤ nb and t·nb ≤ na (integer cross-multiply)
            & (F.col("na") * num <= F.col("nb") * den)
            & (F.col("nb") * num <= F.col("na") * den)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    av = ordered.select(
        F.col("id").alias("id_a"), F.col("toks").alias("ta"), F.col("n").alias("na")
    )
    bv = ordered.select(
        F.col("id").alias("id_b"), F.col("toks").alias("tb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("n_inter", inter.cast("long"))
        .withColumn(
            "n_union", (F.col("na") + F.col("nb") - F.col("n_inter")).cast("long")
        )
        .filter(F.col("n_inter") * den >= F.col("n_union") * num)
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            F.round(F.col("n_inter") / F.col("n_union"), 6).alias("jaccard"),
        )
    )


def minhash_index_coverage(store, index_name: str) -> dict:
    """Coverage watermark for the persisted index's PROBE PRUNING:
    the fraction of bands-table files that are band-clustered (staged
    by a ``sort_by=["band_hash"]`` compaction, read from the entries'
    ``sorted_by`` stamps — pure manifest arithmetic, no data I/O).
    Ingest-time appends land unclustered, so every append silently
    widens probes (zone maps on unsorted files cover the whole hash
    range: exact, just unpruned); this is the number to alert on and
    :func:`refresh_minhash_index` is the repair — the same
    decay/refresh lifecycle the bloom index has (``bloom_coverage`` /
    ``refresh_bloom``). Returns ``{"files_total", "files_clustered",
    "files_unclustered", "coverage", "unclustered_entries"}``.
    """
    snap = store._latest_commit(f"{index_name}_bands")
    if snap is None:
        raise FileNotFoundError(f"minhash index {index_name!r} not found")
    total = clustered = 0
    unclustered: list[str] = []
    for e in snap[1].get("entries") or []:
        nf = len(e.get("files") or [None])
        total += nf
        if (e.get("sorted_by") or []) == ["band_hash"]:
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


def refresh_minhash_index(
    store, index_name: str, *, target_files: int | None = None
) -> dict:
    """Recluster ONLY the unclustered tail of the bands table (the
    entries ingest-time appends landed since the last refresh) into
    one band-sorted dir — cost O(tail), not O(index). Probe pruning
    returns to the compacted level; rows are bit-identical so the
    commit is CDF-silent. Run on the maintenance cadence, with a full
    ``compact(sort_by=["band_hash"])`` on a longer one to collapse the
    tiered sorted entries. Returns the post-refresh coverage dict plus
    ``{"refreshed": bool}``."""
    cov = minhash_index_coverage(store, index_name)
    if not cov["unclustered_entries"]:
        return {"refreshed": False, **cov}
    store.compact_entries(
        f"{index_name}_bands",
        cov["unclustered_entries"],
        sort_by=["band_hash"],
        target_files=target_files,
    )
    return {"refreshed": True, **minhash_index_coverage(store, index_name)}


def fold_minhash_index(
    store, index_name: str, *, target_files: int | None = None
) -> dict:
    """Fold tombstone debt in the dedup index: rewrite the bands table
    as its NET state (sum(sign) per (band, doc), positives only) and
    prune signatures to the newest row of each still-live doc — the
    retraction rows :func:`sync_minhash_index` appends stop taxing
    every probe. Both tables replace atomically in one txn group, and
    the guarded commit never clobbers a concurrent sync.

    The O(index) net frames are computed ONCE and materialized; a
    retry after a lost race catches up with ONLY the rows appended
    since (O(delta) over the materialized nets — a fold under steady
    sync pressure still lands). Non-append interleavers force a
    from-scratch recompute. A fold that exhausts its retries reports
    ``{"folded": False}``. Run when :func:`minhash_index_health`
    reports tombstone debt."""
    from pyairbyte_spark.operators.search import (
        _appends_since,
        _fold_changes,
        _guarded_index_replace,
    )

    btbl, stbl = f"{index_name}_bands", f"{index_name}_sigs"

    def _net(bands_frame: DataFrame, sigs_frame: DataFrame):
        bands_net = (
            bands_frame.groupBy("band_idx", "band_hash", "id")
            .agg(F.sum("sign").alias("__s"))
            .filter(F.col("__s") > 0)
            .select(
                "band_idx",
                "band_hash",
                "id",
                F.lit(1).cast("long").alias("sign"),
            )
            .localCheckpoint()  # live_ids below reuses this pass
        )
        live_ids = bands_net.select("id").distinct()
        hcols = [c for c in sigs_frame.columns if c.startswith("h")]
        sigs_net = (
            sigs_frame.join(live_ids, "id", "left_semi")
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.desc("seq"), F.desc("h0")
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("id", *hcols, "seq")
            .localCheckpoint()
        )
        return bands_net, sigs_net

    v0 = store.latest_version(btbl)
    vs0 = store.latest_version(stbl)
    bands_net, sigs_net = _net(store.read(btbl), store.read(stbl))
    for _ in range(4):
        if _guarded_index_replace(
            store, [(bands_net, btbl, v0), (sigs_net, stbl, vs0)]
        ):
            store.compact(
                btbl, sort_by=["band_hash"], target_files=target_files
            )
            # the replace reset the write-time clustering property
            store.set_cluster_by(btbl, ["band_hash"])
            return {
                "folded": True,
                **minhash_index_coverage(store, index_name),
            }
        hb = _appends_since(store, btbl, v0)
        hs = _appends_since(store, stbl, vs0)
        if hb is None or hs is None:  # replace/compact interleaved
            v0 = store.latest_version(btbl)
            vs0 = store.latest_version(stbl)
            bands_net, sigs_net = _net(store.read(btbl), store.read(stbl))
        else:  # appends only: O(delta) catch-up over the nets
            b_src = (
                bands_net.unionByName(_fold_changes(store, btbl, v0, hb))
                if hb > v0
                else bands_net
            )
            s_src = (
                sigs_net.unionByName(_fold_changes(store, stbl, vs0, hs))
                if hs > vs0
                else sigs_net
            )
            bands_net, sigs_net = _net(b_src, s_src)
            v0, vs0 = hb, hs
    return {"folded": False}


def minhash_index_health(
    store,
    index_name: str,
    *,
    hot_band_share_max: float = 0.05,
    unclustered_max: float = 0.5,
    tombstone_max: float = 0.2,
) -> dict:
    """Health signals for the persisted dedup index, the ANN
    ``index_health`` analogue: (1) STALENESS — the unclustered
    fraction from :func:`minhash_index_coverage` (probes widen as it
    grows; fix = :func:`refresh_minhash_index`); (2) SKEW — the
    hottest band bucket's share of all band rows. Boilerplate ingest
    (headers, templates, empty docs) collapses many docs into one
    band_hash, and every probe touching that bucket drags the whole
    cohort through candidate verification — probe cost degrades from
    O(near-dups) toward O(corpus). Fix = filter boilerplate upstream
    or raise ``min_agree``. One scan + one aggregate over the bands
    table. Returns ``{"rows", "distinct_bands", "max_bucket_rows",
    "hot_band_share", "coverage", "files_unclustered", "healthy",
    "issues"}``."""
    g = (
        store.read(f"{index_name}_bands")
        .groupBy("band_hash")
        .agg(
            F.sum("sign").alias("c"),  # tombstone-adjusted live rows
            F.count(F.lit(1)).alias("raw"),
            F.sum((F.col("sign") < 0).cast("long")).alias("neg"),
        )
        .agg(
            F.sum(F.when(F.col("c") > 0, F.col("c"))).alias("rows"),
            F.sum((F.col("c") > 0).cast("long")).alias("distinct_bands"),
            F.max(F.when(F.col("c") > 0, F.col("c"))).alias("max_bucket"),
            F.sum("raw").alias("raw_rows"),
            F.sum("neg").alias("neg_rows"),
        )
        .collect()[0]
    )
    rows = int(g["rows"] or 0)
    raw_rows = int(g["raw_rows"] or 0)
    # every -1 row cancels one +1 row: debt = 2·neg/raw
    debt = (2.0 * int(g["neg_rows"] or 0) / raw_rows) if raw_rows else 0.0
    hot = (int(g["max_bucket"]) / rows) if rows else 0.0
    cov = minhash_index_coverage(store, index_name)
    issues = []
    if debt > tombstone_max:
        issues.append(
            f"tombstone debt: {debt:.1%} of band rows are dead "
            f"(> {tombstone_max:.0%}) — run fold_minhash_index"
        )
    if hot > hot_band_share_max:
        issues.append(
            f"hot band: one bucket holds {hot:.1%} of band rows "
            f"(> {hot_band_share_max:.0%}) — boilerplate ingest degrades "
            "probe selectivity"
        )
    if 1.0 - cov["coverage"] > unclustered_max:
        issues.append(
            f"stale clustering: {1.0 - cov['coverage']:.1%} of files "
            f"unclustered (> {unclustered_max:.0%}) — run "
            "refresh_minhash_index"
        )
    return {
        "rows": rows,
        "distinct_bands": int(g["distinct_bands"] or 0),
        "max_bucket_rows": int(g["max_bucket"] or 0),
        "hot_band_share": hot,
        "tombstone_fraction": debt,
        "coverage": cov["coverage"],
        "files_unclustered": cov["files_unclustered"],
        "healthy": not issues,
        "issues": issues,
    }


# -- exact-substring span removal (Lee et al. ExactSubstr) -------------------


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """Lee et al. 2022 EXACTSUBSTR dedup, the REMOVAL half (the
    coverage stats half is :func:`ngram_duplication_coverage`): cut
    every token span that an n-gram starting there shares with any
    OTHER position in the corpus, and reassemble the surviving text.
    Their suffix-array construction is replaced by the Spark-shaped
    equivalent — POSITIONAL n-gram hashes (not distinct: two
    occurrences inside one doc are duplication too), a corpus-wide
    occurrence count, and per-doc interval marking.

    Returns (``id_col``, n_tokens, n_removed, cleaned_text) for docs
    with ≥1 token; ``cleaned_text`` is the doc with every covered
    token dropped (empty string when nothing survives).

    Scale: tokens/grams are per-row JVM arrays (the let-binding trick
    below; see ngram_duplication_coverage); only (doc, pos, 60-bit
    gram hash) longs shuffle — one gram-keyed aggregate + one join
    back + one per-doc collect of duplicated start positions. The
    final marking folds the sorted starts into disjoint merged
    intervals and slices the surviving gaps — O(tokens + dup-starts)
    per doc inside codegen, LINEAR even for pathologically
    self-repetitive docs (one token × 50k collapses to a single
    interval), where a per-token scan would be doc-length².
    """
    toks_expr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != "",
    )

    def _pos_grams(tk):
        gram = lambda i: F.struct(  # noqa: E731
            i.alias("pos"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", *[F.try_element_at(tk, i + j) for j in range(n)]
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("gram"),
        )
        return F.when(
            F.size(tk) >= n,
            F.transform(F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)), gram),
        )

    base = docs.select(
        F.col(id_col).alias("id"),
        F.element_at(F.transform(F.array(toks_expr), lambda tk: tk), 1).alias(
            "tk"
        ),
    ).filter(F.size("tk") >= 1)
    base = base.localCheckpoint(eager=False)  # grams + final both read it
    pg = (
        base.select(
            "id",
            F.explode(
                F.element_at(F.transform(F.array(F.col("tk")), _pos_grams), 1)
            ).alias("g"),
        )
        .select("id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    counts = pg.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    dup_starts = (
        pg.join(counts, "gram")
        .filter(F.col("nd") >= 2)
        .groupBy("id")
        .agg(F.collect_list("pos").alias("dups"))
    )
    marked = base.join(dup_starts, "id", "left").select(
        "id",
        "tk",
        F.array_sort(
            F.coalesce(F.col("dups"), F.array().cast("array<int>"))
        ).alias("ds"),
    )
    # A duplicated gram starting at s covers [s, s+n-1]; two starts
    # whose gap is <= n produce overlapping/adjacent spans. Fold the
    # SORTED starts into disjoint merged intervals (a start opens a
    # run iff its predecessor is > n behind; a start closes one iff
    # its successor is > n ahead), then reassemble the survivors by
    # slicing the GAPS between intervals — O(tokens + dup-starts) per
    # doc, vs the per-token exists() scan this replaces (O(tokens ×
    # dup-starts): doc-length² on exactly the self-repetitive docs
    # this operator targets). try_element_at: NULL off either end,
    # and (NULL > n) is falsy under the OR with the boundary test.
    iv = marked.select(
        "id",
        "tk",
        F.filter(
            F.col("ds"),
            lambda s, i: (i == F.lit(0))
            | ((s - F.try_element_at(F.col("ds"), i)) > F.lit(n)),
        ).alias("los"),
        F.transform(
            F.filter(
                F.col("ds"),
                lambda s, i: (i == F.size("ds") - 1)
                | ((F.try_element_at(F.col("ds"), i + F.lit(2)) - s) > F.lit(n)),
            ),
            lambda s: s + F.lit(n - 1),
        ).alias("his"),
    )
    # gap i runs (prev_hi, next_lo) exclusive; sentinels 0 and L+1
    gap_los = F.concat(F.array(F.lit(0)), F.col("his"))
    gap_his = F.concat(F.col("los"), F.array(F.size("tk") + 1))
    kept = F.flatten(
        F.zip_with(
            gap_los,
            gap_his,
            lambda a, b: F.slice(
                F.col("tk"), a + 1, F.greatest(F.lit(0), b - a - 1)
            ),
        )
    )
    return iv.select(
        F.col("id").alias(id_col),
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )
