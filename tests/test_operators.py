"""Unit tests for the training-data operators (semantic properties the
oracle-parity suite can't express: recall relations, batch shapes,
stub seams)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark.operators import dedup, multimodal, similarity, stats, text
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_deterministic_keeper(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], ["id", "t"]
    )
    out = dedup.exact_dedup(df, ["t"], id_col="id").collect()
    kept = sorted(r["id"] for r in out)
    assert kept == [1, 2]  # lowest id wins, deterministic


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here"),
        ],
        ["doc_id", "text"],
    )
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signature(df, "text", "doc_id").collect()}
    d = spark.createDataFrame(
        [(sig[1], sig[2]), (sig[1], sig[3])], ["a", "b"]
    ).select(dedup.simhash_hamming_expr(F.col("a"), F.col("b")).alias("h")).collect()
    near, far = d[0]["h"], d[1]["h"]
    assert near < far  # similar docs have closer signatures


def test_minhash_near_dup_detected(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(df, "text", "doc_id").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_hot_band_cap_bounds_pairs(spark):
    """A poisoned band bucket (template spam: shared text → identical
    signatures → one giant bucket per band) must not emit O(k²)
    candidate pairs when the bucket exceeds ``max_bucket_size``; docs
    that pair through normal-sized buckets are unaffected."""
    spam = [(i, "buy cheap widgets online today free shipping limited offer " * 2)
            for i in range(30)]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("kappa", "lambda", 1)
    df = spark.createDataFrame(
        spam + [(100, base), (101, near)], ["doc_id", "text"]
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            df, "text", "doc_id", max_bucket_size=5
        ).collect()
    }
    # the 30-doc spam cluster saturates every band bucket → all dropped
    assert not any(a < 100 for a, _ in capped)
    # the small-bucket pair is untouched by the cap
    assert (100, 101) in capped
    # uncapped, the spam cluster alone emits C(30,2) = 435 pairs
    uncapped = dedup.minhash_lsh_candidates(
        df, "text", "doc_id", max_bucket_size=None
    ).count()
    assert uncapped >= 435


def test_hashed_linear_score_strategies_agree(spark):
    """The literal-array and broadcast-join classifier strategies must
    produce bit-identical scores (same DECIMAL fold, same rounding) —
    including the NULL-document bias-only row the join path handles
    via explode_outer."""
    import random

    rng = random.Random(7)
    weights = [round(rng.uniform(-1.5, 1.5), 6) for _ in range(256)]
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, None),
            (4, "the the the the repeated token mass"),
        ],
        "doc_id int, text string",
    )
    literal = text.hashed_linear_score(
        df, weights, bias=0.1, id_col="doc_id", literal_max_buckets=65536
    )
    join = text.hashed_linear_score(
        df, weights, bias=0.1, id_col="doc_id", literal_max_buckets=16
    )
    assert literal.columns == join.columns
    lit_rows = {r["doc_id"]: r.asDict() for r in literal.collect()}
    join_rows = {r["doc_id"]: r.asDict() for r in join.collect()}
    assert lit_rows == join_rows
    assert lit_rows[3]["n_tokens"] == 0 and lit_rows[3]["clf_linear"] == 0.1
    with pytest.raises(ValueError, match="id_col"):
        text.hashed_linear_score(df, weights, literal_max_buckets=16)


def test_bm25_semantics(spark):
    """More query-term mass scores higher at equal length; rare terms
    outweigh common ones; docs without any query term are absent."""
    df = spark.createDataFrame(
        [
            (1, "apple banana apple banana apple banana"),  # 3x apple
            (2, "apple cherry cherry cherry cherry cherry"),  # 1x apple
            (3, "cherry cherry cherry cherry cherry cherry"),  # no hits
            (4, "zebra cherry cherry cherry cherry cherry"),  # rare term
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in text.bm25_scores(df, ["apple", "zebra"]).collect()
    }
    assert set(rows) == {1, 2, 4}
    assert rows[1]["n_hit_terms"] == 1 and rows[1]["bm25"] > rows[2]["bm25"]
    # zebra (df=1) is rarer than apple (df=2) -> higher idf at tf=1
    assert rows[4]["bm25"] > rows[2]["bm25"]


def test_jaccard_identical_docs_score_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        ["doc_id", "text"],
    )
    rows = dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_jaccard_hot_shingle_cap_bounds_fanout(spark):
    """An adversarial stop-phrase shared by every doc must not pair up
    otherwise-unrelated documents (and must not contribute k² join
    rows); docs that are near-dups beyond the hot phrase still pair."""
    hot = "click here to subscribe now "  # boilerplate in EVERY doc
    docs = [(i, hot + f"unique{i} topic{i} words{i} body{i} tail{i}") for i in range(40)]
    # 40 and 41: real near-dups (share their long unique tail too)
    docs.append((41, hot + "unique39 topic39 words39 body39 tail39"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    capped = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.2, max_doc_frequency=10
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # Without the cap every one of the 41*40/2 pairs shares the hot
    # shingles; with it only the genuine near-dup pair survives.
    assert pairs == {(39, 41)}

    uncapped = dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.2)
    assert len(uncapped.collect()) > 100  # the fan-out the cap removes


def test_lsh_ann_subset_of_brute_force(spark, emb):
    """LSH candidates within a bucket must agree with brute force on
    cosine values; recall ≤ 1 by construction."""
    queries = emb.filter(F.col("vec_id") < 3)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.brute_force_topk(emb, queries, k=50).collect()
    }
    lsh = similarity.lsh_bucketed_topk(emb, queries, k=5, bits=4).collect()
    assert lsh  # buckets non-empty at this size
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert bf[key] == r["cosine"]


def test_weighted_sample_prefers_heavy_rows(spark):
    """A-ES semantics: heavier rows appear more often; w<=0/NULL rows
    never; the selection is deterministic in (seed, ids)."""
    from pyairbyte_spark.operators.curation import weighted_sample_per_stratum

    rows = [(i, "s", 1000.0 if i < 10 else 1.0) for i in range(200)]
    rows += [(900, "s", 0.0), (901, "s", None)]  # never sampled
    df = spark.createDataFrame(rows, ["id", "stratum", "w"])
    out = weighted_sample_per_stratum(
        df, ["stratum"], n=10, weight_col="w", id_col="id", seed="x"
    )
    picked = sorted(r["id"] for r in out.collect())
    assert len(picked) == 10
    assert 900 not in picked and 901 not in picked
    # the 10 heavy rows are 1000x likelier: expect the sample dominated
    # by them (P[fewer than 6 heavy] is negligible at this ratio)
    assert sum(1 for i in picked if i < 10) >= 6
    # deterministic: same seed → same rows; different seed → different
    again = sorted(
        r["id"]
        for r in weighted_sample_per_stratum(
            df, ["stratum"], n=10, weight_col="w", id_col="id", seed="x"
        ).collect()
    )
    assert again == picked
    other = sorted(
        r["id"]
        for r in weighted_sample_per_stratum(
            df, ["stratum"], n=10, weight_col="w", id_col="id", seed="y"
        ).collect()
    )
    assert other != picked


def test_chunk_documents_overlap_and_tails(spark):
    from pyairbyte_spark.operators.curation import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # w0..w9
    df = spark.createDataFrame([(1, words), (2, "a b")], ["doc_id", "text"])
    out = chunk_documents(
        df, "text", "doc_id", chunk_tokens=4, stride=3, min_tokens=1
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        )
    # doc 1: starts 0,3,6,9 → overlapping windows, short tail kept
    assert [c[1] for c in sorted(by_doc[1])] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9", "w9",
    ]
    assert [c[2] for c in sorted(by_doc[1])] == [4, 4, 4, 1]
    # doc 2: single chunk shorter than chunk_tokens
    assert by_doc[2] == [(0, "a b", 2)]
    # min_tokens drops the tail
    out2 = chunk_documents(
        df, "text", "doc_id", chunk_tokens=4, stride=3, min_tokens=2
    ).collect()
    assert max(r["chunk_idx"] for r in out2 if r["doc_id"] == 1) == 2


def test_mixture_weights_flatten_toward_uniform(spark):
    from pyairbyte_spark.operators.curation import mixture_weights

    df = spark.createDataFrame(
        [("big", 900), ("small", 100)], ["src", "n_tokens"]
    )
    rows = {r["src"]: r for r in mixture_weights(df, "src", token_col="n_tokens").collect()}
    assert rows["big"]["token_share"] == 0.9
    # alpha=0.5 flattens: big's target share < raw share, small's >
    assert rows["big"]["target_share"] < 0.9
    assert rows["small"]["target_share"] > 0.1
    assert rows["small"]["resample_factor"] > 1 > rows["big"]["resample_factor"]
    total = rows["big"]["target_share"] + rows["small"]["target_share"]
    assert abs(total - 1.0) < 1e-6


def test_null_stats_single_pass(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, None)], ["a", "b"]
    )
    out = {r["column_name"]: r for r in stats.null_stats(df).collect()}
    assert out["a"]["null_count"] == 1 and out["b"]["null_count"] == 2
    assert out["a"]["total_count"] == 3
    ts = stats.fetch_table_statistics(df, "t")
    assert ts.row_count == 3 and len(ts.columns) == 2


def test_langid_marker_words(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on the mat"),
            (2, "der Hund und die Katze ist nicht da"),
            (3, "qwerty zxcvb asdfgh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred"] for r in df.select("doc_id", text.langid_expr("text").alias("pred")).collect()}
    assert out == {1: "en", 2: "de", 3: "unknown"}


def test_multimodal_feature_extraction_shapes(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    media = multimodal.attach_media_meta(
        df.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        "payload",
        mime_type="text/plain",
        id_col="doc_id",
    )
    assert media.schema["media_meta"].dataType.fieldNames() == [
        "mime_type", "n_bytes", "source_uri",
    ]
    feats = multimodal.extract_features(media).collect()
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in feats)
    assert all(0.0 <= x <= 1.0 for r in feats for x in r["features"])
    # stub seam: real decode without an injected decoder fails fast
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(media, decode_stub=False)


def test_multimodal_injected_decoder_end_to_end(spark):
    """A user-supplied decoder callable runs the NON-stub path through
    the same Arrow-batched mapInPandas plumbing (the PIL/ffmpeg seam,
    exercised here with a deterministic fake decoder)."""
    df = spark.createDataFrame([(1, "aa"), (2, "bbbb")], ["doc_id", "text"])
    media = multimodal.attach_media_meta(
        df.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        "payload",
        mime_type="image/png",
        id_col="doc_id",
    )

    def decoder(payload: bytes) -> list[float]:
        return [float(len(payload)), float(payload[0])]

    rows = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(
            media, decode_stub=False, decoder=decoder
        ).collect()
    }
    assert rows == {1: [2.0, 97.0], 2: [4.0, 98.0]}

    def resizer(payload: bytes, w: int, h: int) -> bytes:
        return payload[:1] * (w * h)

    out = {
        r["media_id"]: (r["resized_bytes"], r["resized_sha256"])
        for r in multimodal.resize_plan(
            media, width=2, height=3, decode_stub=False, resizer=resizer
        ).collect()
    }
    import hashlib

    assert out[1] == (6, hashlib.sha256(b"a" * 6).hexdigest())
    assert out[2] == (6, hashlib.sha256(b"b" * 6).hexdigest())


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, b"x" * 5000)], ["doc_id", "payload"])
    media = multimodal.attach_media_meta(df, "payload", mime_type="video/mp4", id_col="doc_id")
    frames = multimodal.frame_sample_plan(media, every_n=2).collect()
    assert [r["frame_idx"] for r in frames] == [0, 2, 4]


def test_quality_score_band(spark):
    df = spark.createDataFrame(
        [(1, "short"), (2, "a decent length document with the usual words and few symbols in it")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["q"] for r in df.select("doc_id", text.quality_score_expr("text").alias("q")).collect()}
    assert out[1] < out[2] <= 1.0


def test_rolling_fingerprint_shift_sensitivity(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "ba")], ["doc_id", "text"])
    out = [r["fp"] for r in df.select(text.fingerprint_rolling_expr("text").alias("fp")).collect()]
    assert out[0] != out[1]  # order-sensitive, unlike a bag-of-chars hash


def test_ivf_topk_recall_against_brute_force(spark):
    """IVF with all lists probed must equal brute force exactly; with
    fewer probes it returns k results whose top-1 usually survives."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id < 3")
    exact = similarity.brute_force_topk(emb, qs, k=3)
    full_probe = similarity.ivf_topk(
        emb, qs, k=3, n_centroids=4, n_probes=4, iters=1
    )
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
    )
    assert key(full_probe) == key(exact)
    partial = similarity.ivf_topk(emb, qs, k=3, n_centroids=4, n_probes=2, iters=1)
    got = partial.collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    assert all(r["rank"] <= 3 for r in got)


def test_kmeans_centroids_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.kmeans_centroids(emb, n_centroids=4, iters=2).collect()
    b = similarity.kmeans_centroids(emb, n_centroids=4, iters=2).collect()
    assert sorted((r["cid"], tuple(r["cv"])) for r in a) == sorted(
        (r["cid"], tuple(r["cv"])) for r in b
    )


def test_kmeans_driver_path_matches_distributed(spark):
    """The driver-side Lloyd fast path must be bit-identical to the
    distributed formulation (both round every decision value to 6
    decimals — see scripts/probe_kmeans_driver.py for the full
    config × scale matrix)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def run():
        got = similarity.kmeans_centroids(
            emb, n_centroids=6, iters=2, train_modulus=2
        )
        rows = getattr(got, "_sg_local_rows", None) or got.collect()
        return sorted((r["cid"], tuple(r["cv"])) for r in rows)

    orig = similarity.KMEANS_DRIVER
    try:
        similarity.KMEANS_DRIVER = True
        new = run()
        similarity.KMEANS_DRIVER = False
        old = run()
    finally:
        similarity.KMEANS_DRIVER = orig
    assert new == old and len(new) == 6


def test_audio_chunk_plan(spark):
    df = spark.createDataFrame([(1, b"x" * 96_000)], ["doc_id", "payload"])
    media = multimodal.attach_media_meta(
        df, "payload", mime_type="audio/wav", id_col="doc_id"
    )
    chunks = multimodal.audio_chunk_plan(media, chunk_seconds=2).collect()
    # 96000 bytes @32k/s -> 3s -> duration 4 (stub +1) -> chunks at 0,2
    assert [(r["chunk_idx"], r["start_s"], r["end_s"]) for r in chunks] == [
        (0, 0, 2),
        (1, 2, 4),
    ]


def test_resize_plan_deterministic_stub(spark):
    df = spark.createDataFrame([(1, b"img-a"), (2, b"img-b")], ["doc_id", "payload"])
    media = multimodal.attach_media_meta(
        df, "payload", mime_type="image/png", id_col="doc_id"
    )
    out = {r["media_id"]: r for r in multimodal.resize_plan(media, width=4, height=2).collect()}
    assert out[1]["resized_bytes"] == 4 * 2 * 3
    assert out[1]["resized_sha256"] != out[2]["resized_sha256"]
    again = {r["media_id"]: r for r in multimodal.resize_plan(media, width=4, height=2).collect()}
    assert out[1]["resized_sha256"] == again[1]["resized_sha256"]
    with pytest.raises(NotImplementedError):
        multimodal.resize_plan(media, width=4, height=2, decode_stub=False)


def test_salted_join_equals_plain_join(spark):
    from pyairbyte_spark.operators.skew import key_skew_stats, salted_join

    # one pathologically hot key (90%), several cold ones
    big = spark.range(1000).selectExpr(
        "CASE WHEN id < 900 THEN 0 ELSE id % 7 END AS k", "id AS v"
    )
    small = spark.createDataFrame(
        [(i, f"dim-{i}") for i in range(7)], ["k", "name"]
    )
    plain = big.join(small, ["k"]).select("k", "v", "name")
    salted = salted_join(big, small, ["k"], salt=8).select("k", "v", "name")
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(salted) == key(plain)
    # left join keeps unmatched big-side rows
    small_partial = small.filter("k < 3")
    lp = big.join(small_partial, ["k"], "left").select("k", "v", "name")
    ls = salted_join(big, small_partial, ["k"], salt=8, how="left").select(
        "k", "v", "name"
    )
    assert key(ls) == key(lp)
    stats_rows = key_skew_stats(big, ["k"]).collect()
    assert stats_rows[0]["k"] == 0 and stats_rows[0]["share"] >= 0.9


def test_sample_per_stratum_exact_and_stable(spark):
    from pyairbyte_spark.operators.curation import sample_per_stratum

    df = spark.range(300).selectExpr("id", "id % 3 AS cls")
    s1 = sample_per_stratum(df, ["cls"], n=7, id_col="id").collect()
    s2 = sample_per_stratum(df.repartition(13), ["cls"], n=7, id_col="id").collect()
    by_cls = lambda rows: {  # noqa: E731
        c: sorted(r["id"] for r in rows if r["cls"] == c) for c in (0, 1, 2)
    }
    assert all(len(v) == 7 for v in by_cls(s1).values())
    assert by_cls(s1) == by_cls(s2)  # partitioning-independent
    assert by_cls(s1) != {c: list(range(c, 21 * 3, 3))[:7] for c in (0, 1, 2)}


def test_pack_token_bins_budget_overshoot_bound(spark):
    from pyairbyte_spark.operators.curation import pack_token_bins

    df = spark.createDataFrame(
        [(i, 60) for i in range(10)], ["doc_id", "n_tokens"]
    )
    out = pack_token_bins(df, token_col="n_tokens", budget=100, id_col="doc_id")
    bins = {}
    for r in out.collect():
        bins.setdefault(r["bin_id"], []).append(r["doc_id"])
    # 60-token docs, 100 budget: offsets 0,60,120,... -> bins 0,0,1,1,2,...
    assert bins[0] == [0, 1] and bins[1] == [2, 3]
    totals = out.groupBy("bin_id").sum("n_tokens").collect()
    assert all(r["sum(n_tokens)"] <= 100 + 60 for r in totals)  # <= budget + 1 doc


def test_connected_components_clusters_pairs(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 1)], ["id_a", "id_b"]
    )
    cc = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    # {1,2,3,10} -> 1 ; {7,8} -> 7
    assert cc == {1: 1, 2: 1, 3: 1, 10: 1, 7: 7, 8: 7}


def test_gopher_signals_flag_degenerate_docs(spark):
    good = "the data should be sent to all of them and note that we have it with care. " + " ".join(
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}" for i in range(20)
    )  # distinct alpha words + the required stop words, all n-grams unique
    loopy = "spam ham " * 60  # one 2-gram dominates
    dup_lines = "\n".join(["a good line of text here now"] * 10)
    symbols = " ".join(["###"] * 60)
    no_stops = " ".join(f"word{i} item{i} thing{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, good), (2, loopy), (3, dup_lines), (4, symbols), (5, ""), (6, no_stops)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in text.gopher_signals(df).collect()}
    assert out[1]["stop_word_count"] >= 2
    assert out[1]["gopher_keep"] is True
    assert out[2]["top_2gram_char_frac"] > 0.4 and out[2]["gopher_keep"] is False
    assert out[2]["dup_5gram_char_frac"] > 0.5  # "spam ham" * 60 repeats 5-grams
    assert out[3]["dup_line_frac"] == 0.9 and out[3]["gopher_keep"] is False
    assert out[3]["dup_line_char_frac"] == 0.9  # identical lines: char mass too
    assert out[4]["symbol_word_ratio"] > 0.1 and out[4]["gopher_keep"] is False
    # split("") yields [""] so the empty doc counts one pseudo-token;
    # it is rejected by the min-word rule either way
    assert out[5]["n_words"] <= 1 and out[5]["gopher_keep"] is False
    # 90 alphabetic words but zero required stop words -> rejected
    assert out[6]["stop_word_count"] == 0 and out[6]["gopher_keep"] is False


def test_ngrams_guard_short_docs(spark):
    df = spark.createDataFrame([("one",), ("one two",), ("",)], ["text"])
    rows = df.select(text.ngrams_expr("text", 2).alias("g")).collect()
    assert [r["g"] for r in rows] == [[], ["one two"], []]


def test_pii_redaction_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk now"),
            (2, "ssn 123-45-6789 ip 10.0.255.1"),
            (3, "call +1-555-867-5309 or 555 123 4567"),
            (4, "clean text, no pii at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in text.pii_counts(df).collect()}
    assert out[1]["redacted"] == "mail <EMAIL> now" and out[1]["n_email"] == 1
    assert out[2]["redacted"] == "ssn <SSN> ip <IP>"
    assert out[2]["n_ssn"] == 1 and out[2]["n_ipv4"] == 1
    assert "<PHONE>" in out[3]["redacted"] and out[3]["n_phone"] == 2
    assert out[4]["redacted"] == out[4]["text"]


def test_sample_per_stratum_null_stratum_survives_prefilter(spark):
    from pyairbyte_spark.operators import curation

    rows = [(i, "a" if i % 3 == 0 else None, i) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "grp", "x"])
    on = curation.sample_per_stratum(df, ["grp"], n=5, id_col="id", prefilter=True)
    off = curation.sample_per_stratum(df, ["grp"], n=5, id_col="id", prefilter=False)
    key = lambda d: sorted((r["id"], r["grp"]) for r in d.collect())  # noqa: E731
    assert key(on) == key(off)
    by_grp = {}
    for _, g in key(on):
        by_grp[g] = by_grp.get(g, 0) + 1
    assert by_grp == {"a": 5, None: 5}  # NULL is a stratum, not dropped


def test_connected_components_releases_superseded_checkpoints(spark):
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    # chain graph: 0-1-2-...-9 needs several label-propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    cc = dedup.connected_components(pairs)
    assert {r["component"] for r in cc.collect()} == {0}
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # only the final round's checkpoint may remain pinned
    assert after - before <= 1, f"{after - before} checkpoint block sets leaked"


def test_remove_repeated_spans_line_level(spark):
    from pyairbyte_spark.operators import curation

    header = "SITE NAVIGATION MENU"
    footer = "copyright 2024 example corp"
    docs = [
        (1, f"{header}\nunique content one\n{footer}"),
        (2, f"{header}\nsomething else entirely\n{footer}"),
        (3, f"{header}\nthird body text\n{footer}"),
        (4, "no boilerplate at all here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in curation.remove_repeated_spans(df, min_docs=3).collect()
    }
    assert out[1]["cleaned"] == "unique content one"
    assert out[2]["cleaned"] == "something else entirely"
    assert out[1]["n_removed"] == 2 and out[1]["n_kept"] == 1
    assert out[4]["cleaned"] == "no boilerplate at all here"
    assert out[4]["n_removed"] == 0
    # a doc that is ALL boilerplate comes back empty, not missing
    df2 = df.union(spark.createDataFrame([(5, f"{header}\n{footer}")], ["doc_id", "text"]))
    out2 = {
        r["doc_id"]: r.asDict()
        for r in curation.remove_repeated_spans(df2, min_docs=3).collect()
    }
    assert out2[5]["cleaned"] == "" and out2[5]["n_kept"] == 0 and out2[5]["n_removed"] == 2


def test_semantic_dedup_within_cluster_pruning(spark):
    """Hand-checkable SemDeDup case: two clear clusters along axes 0
    and 1; the near-copy in each cluster is marked duplicate, the
    lowest-id exemplar and the ambiguous mid vector survive."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.1, 0.0, 0.0]),  # near-copy of 0 (cos ~= 0.995)
        (3, [0.0, 1.0, 0.1, 0.0]),  # near-copy of 1 (cos ~= 0.995)
        (4, [0.7, 0.7, 0.0, 0.0]),  # between clusters, cos < 0.95 to all
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: (r["cluster_id"], r["is_duplicate"])
        for r in similarity.semantic_dedup(
            df, n_clusters=2, iters=1, threshold=0.95
        ).collect()
    }
    assert len(out) == 5  # one row per input vector
    assert {k for k, (_, d) in out.items() if d} == {2, 3}
    # near-copies land in their exemplar's cluster
    assert out[2][0] == out[0][0]
    assert out[3][0] == out[1][0]
    assert out[0][0] != out[1][0]


def test_semantic_dedup_real_embeddings_invariants(spark):
    """Row preservation + duplicate soundness on real vectors: every
    flagged vector has a lower-id >= threshold neighbor in its cluster."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.semantic_dedup(emb, n_clusters=4, iters=1, threshold=0.45)
    rows = out.collect()
    assert len(rows) == emb.count()
    by_cluster: dict[int, list] = {}
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)

    def cos(a, b):
        import math

        d = sum(x * y for x, y in zip(a, b))
        return round(
            d
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(x * x for x in b))
            ),
            6,
        )

    for members in by_cluster.values():
        ids = sorted(r["vec_id"] for r in members)
        for r in members:
            witnesses = [
                i for i in ids
                if i < r["vec_id"] and cos(vecs[i], vecs[r["vec_id"]]) >= 0.45
            ]
            assert bool(witnesses) == r["is_duplicate"], r


def test_quantize_int8_bounds_and_zero_guard(spark):
    """q in [-127,127]; max-abs element maps to ±127 exactly; zero
    vectors quantize to zeros with scale 0; reconstruction error is
    bounded by half a quantization step."""
    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    assert out[0]["q"] == [127, -64, 32, 0] and out[0]["scale"] == 1.0
    assert out[1]["q"] == [0, 0, 0, 0] and out[1]["scale"] == 0.0
    assert out[2]["q"] == [-127, 127, 64, -64] and out[2]["scale"] == 2.0
    for vid, (_, vec) in zip([0, 1, 2], rows):
        r = out[vid]
        step = r["scale"] / 127.0 if r["scale"] else 0.0
        for x, qv in zip(vec, r["q"]):
            assert abs(qv) <= 127
            assert abs(x - qv * step) <= step / 2 + 1e-12


def test_semantic_dedup_auto_scales_cluster_count(spark):
    """Default n_clusters=None auto-scales to max(8, isqrt(n)) — the
    round-4 100x finding: fixed cluster count lets per-cluster
    pairwise work grow quadratically. Invariants: one row per input,
    cluster count matches the rule, dup flags sound vs the pinned run."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    import math

    expect_k = max(8, math.isqrt(n))
    out = similarity.semantic_dedup(emb, iters=1, threshold=0.45)
    rows = out.collect()
    assert len(rows) == n
    used = {r["cluster_id"] for r in rows}
    # every cluster id comes from the expected range (some may be empty)
    assert used <= set(range(expect_k)) and len(used) > 8 // 2
    # determinism: same input -> identical output
    again = similarity.semantic_dedup(emb, iters=1, threshold=0.45).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_unigram_logprob_hand_checked(spark):
    """Corpus-as-LM cross-entropy: hand-computable 2-doc case."""
    from pyairbyte_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b C!")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_logprob(docs).collect()}
    # vocab: a:2 b:2 c:1, total 5 → lp(a)=lp(b)=log10(.4), lp(c)=log10(.2)
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert out[1]["avg_logp10"] == -0.39794
    assert out[2]["avg_logp10"] == round((-0.39794 - 0.69897) / 2, 6)
    # rare-token doc scores lower (the filtering signal)
    assert out[2]["avg_logp10"] < out[1]["avg_logp10"]


def test_ngram_duplication_coverage_hand_checked(spark):
    from pyairbyte_spark.operators.dedup import ngram_duplication_coverage

    base = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, base + " nine ten"),          # shares the 8-gram prefix
            (2, base + " different tail"),    # with doc 1
            (3, "totally unrelated words here that never repeat at all"),
            (4, "too short"),                 # < 8 tokens → excluded
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in ngram_duplication_coverage(docs, n=8).collect()
    }
    assert set(out) == {1, 2, 3}  # doc 4 has no 8-grams
    # docs 1/2: 3 distinct 8-grams each, exactly one shared
    assert out[1]["n_grams"] == 3 and out[1]["n_dup_grams"] == 1
    assert out[2]["n_grams"] == 3 and out[2]["n_dup_grams"] == 1
    assert out[1]["dup_fraction"] == round(1 / 3, 6)
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0


def test_ivf_persistent_index_matches_direct_ivf(spark, tmp_path):
    """build_ivf_index + ivf_index_topk == ivf_topk for the same build
    parameters, and the probe scan is zone-map-pruned to the probed
    lists' files."""
    from pyairbyte_spark.writers import CommitLogTableStore

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    store = CommitLogTableStore(spark, str(tmp_path / "wh"), "idx")
    info = similarity.build_ivf_index(
        emb, store, "emb", n_centroids=8, iters=1, train_modulus=4,
        target_files=8,
    )
    assert info["n_vectors"] == emb.count() and info["n_centroids"] == 8
    got = sorted(
        map(
            tuple,
            similarity.ivf_index_topk(
                store, "emb", queries, k=5, n_probes=2
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                emb, queries, k=5, n_centroids=8, n_probes=2,
                iters=1, train_modulus=4,
            ).collect(),
        )
    )
    assert got == want and len(got) == 25
    # pruning: probing 2 lists/query must not plan every index file
    cent = spark.createDataFrame(store.read("emb_centroids").collect())
    from pyairbyte_spark.operators.similarity import _assign_to_centroids, as_double_vec

    q = queries.select(F.col("vec_id").alias("id"), as_double_vec("embedding").alias("v"))
    cids = sorted({
        r["cid"]
        for r in _assign_to_centroids(q, cent, top_n=2).select("cid").collect()
    })
    plan = store.plan_scan("emb_lists", [("cid", "in", cids)])
    if len(cids) < 8:  # only when some list goes unprobed
        assert plan["files_selected"] < plan["files_total"]


def test_ivf_index_incremental_append(spark, tmp_path):
    """append_to_ivf_index: new vectors join the existing quantizer's
    lists without a rebuild; queries see old + new."""
    from pyairbyte_spark.writers import CommitLogTableStore

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    store = CommitLogTableStore(spark, str(tmp_path / "wh"), "idx")
    similarity.build_ivf_index(
        old, store, "emb", n_centroids=8, iters=1, train_modulus=4,
        target_files=8,
    )
    res = similarity.append_to_ivf_index(new, store, "emb")
    assert res["appended"] == new.count()
    assert store.table_stats("emb_lists")["rows"] == emb.count()
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.ivf_index_topk(store, "emb", queries, k=5, n_probes=8)
    # probing ALL lists == brute force over the whole (old+new) corpus
    want = similarity.brute_force_topk(emb, queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.slow
def test_ivf_index_lifecycle_under_churn(spark, tmp_path):
    """The full index maintenance cycle — build -> append -> probe ->
    compact -> probe -> retrain -> probe — stays EXACT at every step
    (probing all lists equals brute force over whatever the index holds),
    and the zone-map pruning gate survives compaction and retrain."""
    from pyairbyte_spark.operators.similarity import (
        _assign_to_centroids,
        as_double_vec,
    )
    from pyairbyte_spark.writers import CommitLogTableStore

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    gen0 = emb.filter(F.col("vec_id") < 300)
    gen1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 450))
    gen2 = emb.filter(F.col("vec_id") >= 450)
    queries = emb.filter(F.col("vec_id") < 3)
    store = CommitLogTableStore(spark, str(tmp_path / "wh"), "idx")

    def assert_exact(corpus):
        got = similarity.ivf_index_topk(store, "emb", queries, k=5, n_probes=8)
        want = similarity.brute_force_topk(corpus, queries, k=5)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def assert_pruned():
        cent = spark.createDataFrame(store.read("emb_centroids").collect())
        q = queries.select(
            F.col("vec_id").alias("id"), as_double_vec("embedding").alias("v")
        )
        cids = sorted(
            r["cid"]
            for r in _assign_to_centroids(q, cent, top_n=2)
            .select("cid").distinct().collect()
        )
        plan = store.plan_scan("emb_lists", [("cid", "in", cids)])
        if len(cids) < 8:
            assert plan["files_selected"] < plan["files_total"], plan

    similarity.build_ivf_index(
        gen0, store, "emb", n_centroids=8, iters=1, train_modulus=4,
        target_files=8,
    )
    assert_exact(gen0)

    # churn wave 1: append, probe (uncompacted tail files), compact, probe
    similarity.append_to_ivf_index(gen1, store, "emb")
    corpus01 = gen0.union(gen1)
    assert_exact(corpus01)
    store.compact("emb_lists", sort_by=["cid"], target_files=8)
    assert store.table_stats("emb_lists")["rows"] == corpus01.count()
    assert_exact(corpus01)
    assert_pruned()

    # churn wave 2: another append, then RETRAIN (full rebuild on the
    # grown corpus — fresh quantizer replaces centroids + lists)
    similarity.append_to_ivf_index(gen2, store, "emb")
    assert_exact(emb)
    similarity.build_ivf_index(
        emb, store, "emb", n_centroids=8, iters=1, train_modulus=4,
        target_files=8,
    )
    assert store.table_stats("emb_lists")["rows"] == emb.count()
    assert_exact(emb)
    assert_pruned()


def test_gram_matrix_matches_numpy(spark):
    """Distributed GEMM partials sum to the single-machine X^T X —
    float mode allclose, int mode exactly — across a partitioning that
    forces multiple partials."""
    import numpy as np

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(300)
        .repartition(7)
    )
    x = np.asarray(
        [np.asarray(r["embedding"], dtype="float64") for r in emb.collect()]
    )
    ref = x.T @ x
    got = similarity.gram_matrix(emb).collect()
    d = x.shape[1]
    assert len(got) == d * (d + 1) // 2
    for r in got:
        assert abs(r["dot"] - ref[r["i"], r["j"]]) <= 1e-6 * max(
            1.0, abs(ref[r["i"], r["j"]])
        )
    qx = np.sign(x * 1000) * np.floor(np.abs(x * 1000) + 0.5)
    qref = (qx.astype("int64").T @ qx.astype("int64"))
    for r in similarity.gram_matrix(emb, int_scale=1000).collect():
        assert r["dot"] == qref[r["i"], r["j"]]


def test_pca_project_matches_numpy(spark):
    """Distributed PCA == single-machine numpy PCA: same explained
    variance, orthonormal components, and per-row projections equal
    (up to the deterministic sign convention both sides share)."""
    import numpy as np

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(400)
        .repartition(5)
    )
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    x = np.asarray(
        [np.asarray(r["embedding"], dtype="float64") for r in rows]
    )
    proj_df, model = similarity.pca_project(emb, k=8)
    comps = np.asarray(model["components"])
    assert comps.shape == (8, x.shape[1])
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-8)
    # reference PCA
    mean = x.mean(axis=0)
    cov = np.cov(x.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    ref_comps = evecs[:, order].T
    for c in ref_comps:
        j = int(np.argmax(np.abs(c)))
        if c[j] < 0:
            c *= -1
    assert np.allclose(np.abs(comps), np.abs(ref_comps), atol=1e-6)
    ref_var = evals[order] / np.trace(cov)
    assert np.allclose(model["explained_variance_ratio"], ref_var, atol=1e-9)
    got = {r["vec_id"]: np.asarray(r["pca"]) for r in proj_df.select("vec_id", "pca").collect()}
    ref_proj = (x - mean) @ ref_comps.T
    for idx, r in enumerate(rows):
        assert np.allclose(got[r["vec_id"]], ref_proj[idx], atol=1e-6)


def test_pq_adc_recall_and_exactness(spark):
    """PQ/ADC pipeline: (a) codes reconstruct deterministically — the
    ADC cosine equals the numpy cosine against the reconstruction;
    (b) the codebooks actually fit the data (mean reconstruction
    cosine well above the ~0 of a random codeword); (c) recall@10 vs
    exact brute force is an order of magnitude above chance at a 32x
    compression. NOTE the testdata embeddings are near-isotropic
    (intra-label cosine ~= inter-label ~= 0), the adversarial case
    for ANY quantizer — all pairwise cosines are within noise of each
    other, so absolute recall is structurally capped; chance for
    k=10 of ~500 is ~2%, and the assertions are calibrated against
    that, not against clustered-corpus FAISS figures."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(6)
    books = similarity.pq_train(emb, m=8, ksub=16, iters=2, train_modulus=2)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = similarity.pq_encode(emb, books).cache()
    n = codes.count()
    assert n == emb.count()
    queries = emb.filter("vec_id % 100 = 0").limit(5)
    got = similarity.pq_topk(codes, queries, books, k=10)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 10 for v in by_q.values())
    # (a) exactness of the ADC arithmetic vs numpy reconstruction
    cb = [np.asarray(b) for b in books]
    code_rows = {r["id"]: r for r in codes.collect()}
    emb_rows = {r["vec_id"]: np.asarray(r["embedding"], dtype="float64")
                for r in emb.collect()}
    for qr in queries.collect():
        q = np.asarray(qr["embedding"], dtype="float64")
        for r in by_q[qr["vec_id"]][:3]:
            c = code_rows[r["neighbor_id"]]
            recon = np.concatenate(
                [cb[j][c["code"][j]] for j in range(8)]
            )
            ref = float(q @ recon / (np.linalg.norm(q) * np.linalg.norm(recon)))
            assert abs(r["cosine"] - round(ref, 6)) <= 1e-6
    # (b) reconstruction quality: codebooks fit the corpus
    recon_cos = []
    for vid, x in list(emb_rows.items())[:100]:
        c = code_rows[vid]
        recon = np.concatenate([cb[j][c["code"][j]] for j in range(8)])
        recon_cos.append(
            float(x @ recon / (np.linalg.norm(x) * np.linalg.norm(recon)))
        )
    assert np.mean(recon_cos) >= 0.5, np.mean(recon_cos)
    # (c) recall@10 against exact brute force: >= 10x above the ~2%
    # chance level for k=10 of ~500 candidates
    exact = similarity.brute_force_topk(emb, queries, k=10)
    exact_rows = exact.collect()
    hits = tot = 0
    for qr in queries.collect():
        qid = qr["vec_id"]
        approx_ids = {r["neighbor_id"] for r in by_q[qid]}
        exact_ids = {
            r["neighbor_id"] for r in exact_rows if r["query_id"] == qid
        }
        hits += len(approx_ids & exact_ids)
        tot += len(exact_ids)
    assert hits / tot >= 0.2, f"recall@10 {hits}/{tot}"


# ---------------------------------------------------------------------------
# HyperLogLog sketch (operators/sketches.py)
# ---------------------------------------------------------------------------


def test_hll_partitioning_invariance(spark):
    """Register max is commutative: the estimate is identical however the
    input is partitioned (the property that makes the sketch mergeable —
    daily partial sketches roll up to the same monthly estimate)."""
    from pyairbyte_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    base = {
        tuple(r)
        for r in hll_distinct(
            ev, group_cols=["event_type"], value="event_id", p=8
        ).collect()
    }
    for n in (1, 7, 64):
        got = {
            tuple(r)
            for r in hll_distinct(
                ev.repartition(n),
                group_cols=["event_type"],
                value="event_id",
                p=8,
            ).collect()
        }
        assert got == base, n


def test_hll_error_within_bounds(spark):
    """Estimate within 5 sigma of exact (sigma = 1.04/sqrt(m))."""
    from pyairbyte_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    rows = hll_distinct(
        ev,
        group_cols=["event_type"],
        value="event_id",
        p=8,
        include_exact=True,
    ).collect()
    assert rows
    tol = 5 * 1.04 / (256 ** 0.5)
    for r in rows:
        assert r["n_exact"] > 0
        rel = abs(r["approx_distinct"] - r["n_exact"]) / r["n_exact"]
        assert rel <= tol, (r["event_type"], rel)


def test_hll_exact_count_matches_count_distinct(spark):
    """include_exact's two-level distinct equals countDistinct."""
    from pyairbyte_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {
        r["event_type"]: r["n_exact"]
        for r in hll_distinct(
            ev,
            group_cols=["event_type"],
            value="event_id",
            p=8,
            include_exact=True,
        ).collect()
    }
    want = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("nd"))
        .collect()
    }
    assert got == want


def test_hll_incremental_equals_from_scratch(spark):
    """Registers materialized on half the data, merged with the other
    half's delta registers, estimate EXACTLY what the one-shot sketch
    estimates — the property that makes the sketch an incrementally
    maintainable materialized view (insert-monotone register max)."""
    from pyairbyte_spark.operators import sketches as sk

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    full = {
        tuple(r)
        for r in sk.hll_distinct(
            ev, group_cols=["event_type"], value="user_id", p=8
        ).collect()
    }
    a = sk.hll_registers(
        ev.filter(F.col("event_id") % 2 == 0),
        group_cols=["event_type"], value="user_id", p=8,
    )
    b = sk.hll_registers(
        ev.filter(F.col("event_id") % 2 == 1),
        group_cols=["event_type"], value="user_id", p=8,
    )
    merged = sk.merge_hll_registers(a, b, group_cols=["event_type"])
    got = {
        tuple(r)
        for r in sk.hll_estimate(
            merged, group_cols=["event_type"], p=8
        ).collect()
    }
    assert got == full
    # idempotent merge: replaying a delta changes nothing
    again = sk.merge_hll_registers(merged, b, group_cols=["event_type"])
    got2 = {
        tuple(r)
        for r in sk.hll_estimate(
            again, group_cols=["event_type"], p=8
        ).collect()
    }
    assert got2 == full


def test_hll_delta_rejects_deletes(spark):
    """A register can never be lowered: consuming a delete/update
    pre-image must fail inside the job, not silently over-count."""
    import pytest as _pytest

    from pyairbyte_spark.operators import sketches as sk

    feed = spark.createDataFrame(
        [("a", 1, "insert"), ("a", 2, "delete")],
        "grp string, v long, _change_type string",
    )
    delta = sk.hll_delta_registers(
        feed, group_cols=["grp"], value="v", p=8
    )
    with _pytest.raises(Exception, match="insert-monotone"):
        delta.collect()


def test_resample_gapfill_emits_empty_cells(spark):
    """Hours with no events appear with the fill defaults; covered
    hours keep their aggregates; the spine spans the GLOBAL hour range
    for every key."""
    from pyairbyte_spark.operators.timeseries import resample_gapfill

    rows = [
        ("a", "2024-01-01 00:10:00", 1.0),
        ("a", "2024-01-01 03:20:00", 2.0),  # gap: hours 01, 02 for a
        ("b", "2024-01-01 01:00:00", 5.0),  # b missing hours 00,02,03
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.to_timestamp("ts").alias("ts"), "v"
    )
    out = resample_gapfill(
        df,
        ts_col="ts",
        key_cols=["k"],
        unit="hour",
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")],
        fills={"n": F.lit(0).cast("long"), "sv": F.lit(0.0)},
    ).collect()
    got = {(r["k"], r["__ts_bucket"].hour): (r["n"], r["sv"]) for r in out}
    # 4 hours x 2 keys = 8 cells, 5 of them gaps
    assert len(got) == 8
    assert got[("a", 0)] == (1, 1.0)
    assert got[("a", 3)] == (1, 2.0)
    assert got[("b", 1)] == (1, 5.0)
    for cell in [("a", 1), ("a", 2), ("b", 0), ("b", 2), ("b", 3)]:
        assert got[cell] == (0, 0.0), cell


def test_fill_forward_carries_last_non_null(spark):
    from pyairbyte_spark.operators.timeseries import fill_forward

    rows = [
        ("a", 1, None), ("a", 2, 10.0), ("a", 3, None), ("a", 4, None),
        ("a", 5, 20.0), ("b", 1, None), ("b", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        (r["k"], r["t"]): r["v_locf"]
        for r in fill_forward(
            df, ts_col="t", key_cols=["k"], value_cols=["v"]
        ).collect()
    }
    assert got[("a", 1)] is None          # leading gap stays NULL
    assert got[("a", 3)] == 10.0 and got[("a", 4)] == 10.0
    assert got[("a", 5)] == 20.0
    assert got[("b", 1)] is None and got[("b", 2)] == 7.0


def test_pagerank_hub_outranks_leaves(spark):
    """Star graph (undirected): the hub's rank strictly dominates;
    symmetric leaves tie exactly (integer arithmetic — no float
    noise to break the tie)."""
    from pyairbyte_spark.operators.graph import pagerank

    pairs = [("h", f"l{i}") for i in range(5)]
    fwd = spark.createDataFrame(pairs, "src string, dst string")
    edges = fwd.union(fwd.select("dst", "src"))
    got = {r["node"]: r["rank_units"] for r in pagerank(edges).collect()}
    leaf_ranks = {v for k, v in got.items() if k != "h"}
    assert len(leaf_ranks) == 1  # exact tie
    assert got["h"] > leaf_ranks.pop()


def test_pagerank_regular_graph_uniform(spark):
    """On a d-regular graph every node keeps the same rank — and with
    integer units the equality is exact, iteration after iteration."""
    from pyairbyte_spark.operators.graph import pagerank

    n = 6  # ring: each node degree 2
    pairs = [(f"n{i}", f"n{(i + 1) % n}") for i in range(n)]
    fwd = spark.createDataFrame(pairs, "src string, dst string")
    edges = fwd.union(fwd.select("dst", "src"))
    ranks = {
        r["rank_units"]
        for r in pagerank(edges, iterations=4).collect()
    }
    assert len(ranks) == 1


def test_cms_overestimates_only_and_merges(spark):
    """CMS point estimates are >= true counts (never under), and two
    half-stream sketches SUM to the full-stream sketch (counters are
    additive — the merge property)."""
    from pyairbyte_spark.operators.sketches import (
        cms_counts,
        cms_point_estimate,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from pyairbyte_spark.operators import text as text_ops

    toks = docs.select(
        "doc_id", F.explode(text_ops.tokens_expr("text")).alias("token")
    ).filter(F.col("token") != "")
    cms = cms_counts(toks, value="token")
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    est = cms_point_estimate(exact, cms, value="token").collect()
    assert est and all(r["cms_estimate"] >= r["freq"] for r in est)
    # merge: counters from disjoint halves add up to the full sketch
    a = cms_counts(toks.filter(F.col("doc_id") % 2 == 0), value="token")
    b = cms_counts(toks.filter(F.col("doc_id") % 2 == 1), value="token")
    merged = {
        (r["row"], r["bucket"]): r["c"]
        for r in a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    full = {(r["row"], r["bucket"]): r["c"] for r in cms.collect()}
    assert merged == full


def test_hll_overlap_identical_sets_full_intersection(spark):
    """Two types over the SAME value set: union estimate equals each
    single estimate exactly (identical registers), so the intersection
    estimate equals the singles too."""
    from pyairbyte_spark.operators.sketches import hll_pairwise_overlap

    rows = [(t, v) for t in ("x", "y") for v in range(500)]
    df = spark.createDataFrame(rows, "t string, v long")
    out = hll_pairwise_overlap(df, type_col="t", value="v", p=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["d_a"] == r["d_b"] == r["d_union"] == r["d_intersection"]


def test_hll_overlap_disjoint_sets_near_zero(spark):
    """Disjoint value sets: intersection estimate is near zero (within
    sketch noise), union estimate near the sum."""
    from pyairbyte_spark.operators.sketches import hll_pairwise_overlap

    rows = [("x", v) for v in range(2000)] + [
        ("y", v) for v in range(10_000, 12_000)
    ]
    df = spark.createDataFrame(rows, "t string, v long")
    r = hll_pairwise_overlap(df, type_col="t", value="v", p=8).collect()[0]
    # 5-sigma of the union estimate's absolute error dominates
    tol = 5 * 1.04 / (256 ** 0.5) * r["d_union"]
    assert abs(r["d_intersection"]) <= tol, r


# ---------------------------------------------------------------------------
# NDV stats sidecar (ndv.py)
# ---------------------------------------------------------------------------


def _ndv_store(spark, tmp_path, ev):
    from pyairbyte_spark.writers import CommitLogTableStore

    store = CommitLogTableStore(spark, str(tmp_path), "t")
    store.write_append(ev, "events")
    return store


def test_ndv_incremental_refresh_equals_reanalyze(spark, tmp_path):
    """Append-only catch-up from the change feed must produce the
    exact registers (and estimates) a from-scratch ANALYZE would."""
    from pyairbyte_spark import ndv

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    store = _ndv_store(spark, tmp_path, ev.filter(F.col("event_id") % 2 == 0))
    ndv.analyze_ndv(store, "events", ["user_id", "event_type"], p=8)
    store.write_append(ev.filter(F.col("event_id") % 2 == 1), "events")
    maintained = ndv.approx_distinct(spark, store, "events", p=8)
    fresh = ndv.analyze_ndv(store, "events", ["user_id", "event_type"], p=8)
    refreshed = ndv.approx_distinct(spark, store, "events", p=8)
    assert maintained == refreshed
    # and the persisted registers agree with the re-analyze
    assert fresh["version"] == store.latest_version("events")


def test_ndv_dml_forces_reanalyze(spark, tmp_path):
    """A DELETE invalidates max-monotone registers: the next estimate
    must come from a re-analyze (deleted keys stop counting)."""
    from pyairbyte_spark import ndv

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    store = _ndv_store(spark, tmp_path, ev)
    ndv.analyze_ndv(store, "events", ["event_type"], p=8)
    store.delete_where("events", [("event_type", "=", "view")])
    est = ndv.approx_distinct(spark, store, "events", p=8)
    # 4 remaining types: with p=8 linear counting is near-exact here
    assert est["event_type"] == 4


def test_ndv_no_table_scan_on_serve(spark, tmp_path):
    """Serving an up-to-date estimate reads the sidecar, not the
    table: estimates survive the data files being gone."""
    import shutil

    from pyairbyte_spark import ndv

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type"
    )
    store = _ndv_store(spark, tmp_path, ev)
    before = ndv.analyze_ndv(store, "events", ["event_type"], p=8)
    # nuke the data dir (keep commits + sidecar): serving must not scan
    shutil.rmtree(store.table_path("events") + "/data", ignore_errors=True)
    est = ndv.approx_distinct(spark, store, "events", p=8)
    assert est["event_type"] == 5
    assert before["version"] == store.latest_version("events")


# ---------------------------------------------------------------------------
# Integer-lattice PQ (oracle-exact path + persisted index lifecycle)
# ---------------------------------------------------------------------------


def test_pq_encode_int_exactness(spark):
    """Integer-lattice encode: codes are the exact BIGINT argmin per
    subspace (ties to the lowest code index) and rn2 the exact
    reconstruction norm — verified against a from-scratch numpy
    recompute on the same lattice."""
    import numpy as np

    from pyairbyte_spark.ann_fixtures import INT_SCALE, PQ_CODEBOOKS

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(100)
    got = {
        r["id"]: r
        for r in similarity.pq_encode_int(
            emb, PQ_CODEBOOKS, int_scale=INT_SCALE
        ).collect()
    }
    cb = [np.asarray(b, dtype=np.int64) for b in PQ_CODEBOOKS]
    for r in emb.collect():
        x = np.asarray(r["embedding"], dtype=np.float64) * INT_SCALE
        q = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(
            np.int64
        )
        rn2 = 0
        for j in range(8):
            xs = q[j * 8 : (j + 1) * 8]
            d2 = ((xs[None, :] - cb[j]) ** 2).sum(1)
            c = int(d2.argmin())
            assert got[r["vec_id"]]["code"][j] == c, (r["vec_id"], j)
            rn2 += int((cb[j][c] * cb[j][c]).sum())
        assert got[r["vec_id"]]["rn2"] == rn2


def test_pq_index_lifecycle_matches_inmemory(spark, tmp_path):
    """build_pq_index (fixed books) + exactly-once append + probe ==
    the in-memory pq_topk_int over the union corpus; a replayed
    append batch is skipped (no duplicate codes)."""
    from pyairbyte_spark.ann_fixtures import INT_SCALE, PQ_CODEBOOKS
    from pyairbyte_spark.writers import CommitLogTableStore

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    store = CommitLogTableStore(spark, str(tmp_path), "t")
    info = similarity.build_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), store, "e",
        int_scale=INT_SCALE, codebooks=PQ_CODEBOOKS,
    )
    assert info["m"] == 8 and info["ksub"] == 16
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    r1 = similarity.append_to_pq_index(batch, store, "e", txn=("app", 1))
    assert not r1["skipped"]
    r2 = similarity.append_to_pq_index(batch, store, "e", txn=("app", 1))
    assert r2["skipped"] and r2["appended"] == 0
    assert store.table_stats("e_codes")["rows"] == emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.pq_index_topk(store, "e", queries, k=5)
    ref = similarity.pq_topk_int(
        similarity.pq_encode_int(emb, PQ_CODEBOOKS, int_scale=INT_SCALE),
        queries, PQ_CODEBOOKS, k=5, int_scale=INT_SCALE,
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(got) == key(ref)


def test_pq_index_trained_codebooks(spark, tmp_path):
    """The training path (no codebooks arg): books come from the
    sampled Lloyd on the lattice; probes still return k ranked
    neighbors per query with valid cosines."""
    from pyairbyte_spark.writers import CommitLogTableStore

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    store = CommitLogTableStore(spark, str(tmp_path), "t")
    similarity.build_pq_index(
        emb, store, "e", m=8, ksub=16, iters=1, train_modulus=4
    )
    out = similarity.pq_index_topk(
        store, "e", emb.filter(F.col("vec_id") < 3), k=5
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert all(-1.001 <= r["cosine"] <= 1.001 for r in rows)


def test_cosine_neardup_quadratic_guard(spark):
    """All-pairs is O(n^2) by definition: above the shuffled-row
    budget it must refuse with a pointer to the sub-quadratic
    operators unless explicitly allowed."""
    import pytest as _pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with _pytest.raises(ValueError, match="semantic_dedup|MinHash"):
        similarity.cosine_neardup_pairs(
            emb, block_target_rows=8, max_shuffled_rows=1000
        )
    # explicit opt-in still runs (tiny corpus, forced-small budget)
    out = similarity.cosine_neardup_pairs(
        emb.limit(50), block_target_rows=8, max_shuffled_rows=1000,
        allow_quadratic=True, threshold=-1.0,
    )
    assert out.count() == 50 * 49 // 2


def test_hll_high_precision_p14_cross_engine(spark):
    """p up to 16 (register sum is 2^61 for ANY p — int64-safe): p=14
    estimates within ~1% at 150k distincts and the DuckDB oracle SQL
    reproduces the estimate bit-for-bit."""
    import duckdb

    from pyairbyte_spark.operators import sketches as sk

    df = spark.range(0, 200_000).selectExpr(
        "'a' AS g", "CAST(id % 150000 AS STRING) AS v"
    )
    est = sk.hll_distinct(df, group_cols=["g"], value="v", p=14).collect()[
        0
    ]["approx_distinct"]
    assert abs(est - 150_000) / 150_000 < 0.02
    con = duckdb.connect()
    con.register("tb", df.toPandas())
    sql = sk.hll_distinct_oracle_sql(
        table_expr="tb", group_cols=["g"], value_sql="v", p=14
    )
    assert int(con.execute(sql).df()["approx_distinct"].iloc[0]) == est
    with pytest.raises(ValueError, match=r"\[4, 16\]"):
        sk.hll_params(17)


def test_append_epoch_costs_one_write_job(spark, tmp_path):
    """Round-8 directive #7's regression guard: a streaming epoch's
    append_to_pq_index runs the staged write as its ONLY job on the
    codes plan — the appended count rides an ``observe`` on that same
    job, never a separate ``count()`` pass. Job accounting via job
    groups: the call may spend jobs on codebook loading and commit
    metadata, but the TOTAL is pinned; reintroducing a count pass
    bumps it and fails here."""
    from pyairbyte_spark.ann_fixtures import INT_SCALE, PQ_CODEBOOKS
    from pyairbyte_spark.writers import CommitLogTableStore

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    store = CommitLogTableStore(spark, str(tmp_path), "t")
    similarity.build_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), store, "e",
        int_scale=INT_SCALE, codebooks=PQ_CODEBOOKS,
    )
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    sc = spark.sparkContext
    sc.setJobGroup("epoch-baseline", "job-count guard")
    r = similarity.append_to_pq_index(batch, store, "e", txn=("app", 7))
    sc.setJobGroup("post", "job-count guard")
    assert not r["skipped"] and r["appended"] == batch.count()
    jobs = sc.statusTracker().getJobIdsForGroup("epoch-baseline")
    # Measured breakdown (pinned): 2 jobs reading the 1-row meta table
    # (the r13 attached-index OOB guard), 2 jobs loading the codebooks
    # table (parquet schema + collect), 2 schema-resolution jobs inside
    # write_append's compat check, and exactly ONE job on the codes
    # plan — the staged write carrying the observation. A separate
    # count() pass on the codes frame would add an 8th job. Only the
    # codes job is O(data); the rest are 1-row driver round-trips.
    assert len(jobs) <= 7, f"epoch ran {len(jobs)} jobs: {sorted(jobs)}"
