"""Unit tests for dedup / similarity / text / multimodal operators."""

from __future__ import annotations

from conftest import (
    bfs_components,
    clusters_on_both_paths,
    propagation_reference,
    sorted_rows,
)
from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3, "completely different content about spark columnar execution engines"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark), "doc_id", ["text"]).collect()
    got = {r["keeper_id"]: r["dup_count"] for r in out}
    # docs 1 and 4 identical → keeper 1 with count 2
    assert got[1] == 2 and got[2] == 1 and got[3] == 1
    assert 4 not in got


def test_minhash_estimates_jaccard(spark):
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", num_hashes=16, bands=4, threshold=0.3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert got[(1, 4)] == 1.0  # identical docs → identical signatures
    assert (1, 2) in got  # one-word edit → high estimated jaccard
    assert got[(1, 2)] >= 0.3
    assert (1, 3) not in got and (2, 3) not in got


def test_ngram_jaccard_exact(spark):
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text", shingle_k=3, threshold=0.1
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 4)] == 1.0
    # 14-word docs differing in the last word: 12 shingles each, 11 common
    # → jaccard = 11 / (12 + 12 − 11) = 11/13
    assert abs(got[(1, 2)] - 11 / 13) < 1e-12
    assert (1, 3) not in got


def test_simhash_properties(spark):
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(_docs(spark), "doc_id", "text").collect()
    }
    assert fps[1] == fps[4]  # identical text → identical fingerprint
    assert 0 <= fps[1] < 2**31
    ham_close = bin(fps[1] ^ fps[2]).count("1")
    ham_far = bin(fps[1] ^ fps[3]).count("1")
    assert ham_close < ham_far  # near-dup closer in hamming space


def test_simhash_pairs_finds_identical(spark):
    pairs = dedup.simhash_near_dup_pairs(
        _docs(spark), "doc_id", "text", max_hamming=3
    ).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 4 and r["hamming"] == 0 for r in pairs)


def test_embedding_near_dup_and_topk(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.0447, 0.0, 0.0]),  # ~0.999 cosine with 1
        (3, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),      # opposite
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_near_dup_pairs_exact_baseline(df, "vec_id", "embedding", 0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]

    topk = similarity.cosine_topk_exact_baseline(df, df.where("vec_id = 1"), "vec_id", "embedding", k=3)
    rows = topk.orderBy("rnk").collect()
    assert [r["corpus_id"] for r in rows] == [2, 3, 4]  # by descending cosine


def test_lsh_bucket_excludes_opposite_sign(spark):
    vecs = [
        (1, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (2, [0.9, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.lsh_bucketed_topk(
        df, df.where("vec_id = 1"), "vec_id", "embedding", k=5
    ).collect()
    assert [r["corpus_id"] for r in out] == [2]  # 3 lives in another bucket


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "el perro y el gato en la casa que se ve"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(df, "text").collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "und"


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox! It is 42 years old.")], "doc_id long, text string"
    )
    q = text.quality_features(df, "text").collect()[0]
    assert q["q_words"] == 9
    assert 0.0 < q["q_score"] <= 1.0
    assert q["q_digit_ratio"] > 0
    t = text.token_counts(df, "text").collect()[0]
    assert t["n_ws_tokens"] == 9
    # 8 alpha runs + 2 digits + 2 punct = 12 BPE-ish tokens
    assert t["n_bpe_tokens"] == 12


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "  a  b c d e f g "), (3, "a b c d e f h")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r for r in text.doc_fingerprints(df, "text").collect()}
    # whitespace-normalized: 1 and 2 identical
    assert fp[1]["fp_exact"] == fp[2]["fp_exact"]
    assert fp[1]["fp_exact"] != fp[3]["fp_exact"]


def test_multimodal_plumbing(spark):
    def names_types(st):
        return [(f.name, f.dataType) for f in st.fields]

    media = multimodal.generate_synthetic_media(spark, 60, seed=42)
    assert names_types(media.schema) == names_types(multimodal.MEDIA_SCHEMA)
    feats = multimodal.decode_media(media)
    assert names_types(feats.schema) == names_types(multimodal.FEATURE_SCHEMA)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        assert len(r["feature"]) == 8
        if r["kind"] == "image":
            assert r["width"] is not None and r["duration_ms"] is None
        if r["kind"] == "audio":
            assert r["width"] is None and r["duration_ms"] is not None
    # determinism
    again = multimodal.decode_media(
        multimodal.generate_synthetic_media(spark, 60, seed=42)
    )
    assert feats.exceptAll(again).count() == 0

    frames = multimodal.frame_sample(media).collect()
    assert all(r["frame_idx"] < 4 for r in frames)
    assert {r["media_id"] for r in frames} == {
        r["media_id"] for r in rows if r["kind"] == "video"
    }


def test_decode_stub_raises_for_real_codec(spark):
    """Blobs with no real container parser (fake bytes) fail the decode
    stage on the executor under require_real_codec=True."""
    import pytest

    media = multimodal.generate_synthetic_media(spark, 5)
    with pytest.raises(Exception, match="no real codec"):
        multimodal.decode_media(media, require_real_codec=True).collect()


def test_real_container_roundtrip():
    """Writers and parsers agree byte-for-byte on dims/duration."""
    assert multimodal.parse_container(multimodal.bmp_bytes(40, 24)) == (40, 24, None)
    assert multimodal.parse_container(multimodal.png_bytes(17, 9)) == (17, 9, None)
    # 8000 frames @ 8kHz = exactly 1000 ms
    assert multimodal.parse_container(multimodal.wav_bytes(8000)) == (None, None, 1000)
    assert multimodal.parse_container(b"\x00\x00\x00\x18ftypmp42xxxx") is None
    # stdlib wave module agrees with our hand-rolled WAV writer
    import io
    import wave

    with wave.open(io.BytesIO(multimodal.wav_bytes(1234, 16000))) as w:
        assert w.getnframes() == 1234 and w.getframerate() == 16000


def test_real_media_decode_parses_headers(spark):
    """decode_media on generate_real_media recovers the analytic metadata
    by parsing actual container bytes — BMP/WAV AND (round 6) real
    minimal MP4 atoms; every row now satisfies require_real_codec (only
    the codec/pixel layer stays out of scope)."""
    media = multimodal.generate_real_media(spark, 30)
    rows = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    for mid, r in rows.items():
        if mid % 3 == 0:
            assert r["width"] == (mid % 31 + 1) * 4
            assert r["height"] == (mid % 23 + 1) * 4
            assert r["duration_ms"] is None
        elif mid % 3 == 1:
            assert r["width"] is None and r["height"] is None
            assert r["duration_ms"] == (mid % 50 + 1) * 10
        else:
            assert r["width"] == (mid % 16 + 1) * 16
            assert r["height"] == (mid % 9 + 1) * 16
            assert r["duration_ms"] == (mid % 60 + 1) * 500
    assert multimodal.decode_media(media, require_real_codec=True).count() == 30


def test_duplicate_clusters_components(spark, monkeypatch):
    # chain 1-2-3, clique 10-11, singleton edge 20-21: labels = component min
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    for rows in clusters_on_both_paths(monkeypatch, pairs):
        assert dict(rows) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_duplicate_clusters_long_chain(spark, monkeypatch):
    # a 13-node path takes several large-star/small-star rounds above the cap
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    for rows in clusters_on_both_paths(monkeypatch, pairs):
        assert sorted(rows) == [(i, 0) for i in range(13)]


def test_tokenize_udtf_matches_explode(spark):
    """UDTF output must agree with the pure-Catalyst explode path."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.functions import (
        words,
    )

    text.register_tokenize_udtf(spark, "tok_test")
    df = spark.createDataFrame(
        [(1, "  The quick  brown fox "), (2, "a b")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("docs_tok")
    via_udtf = spark.sql(
        "SELECT d.doc_id, t.term, t.pos FROM docs_tok d, LATERAL tok_test(d.text) t"
    )
    via_explode = df.select(
        "doc_id", F.posexplode(words("text")).alias("pos", "term")
    ).select("doc_id", "term", "pos")
    assert via_udtf.exceptAll(via_explode).count() == 0
    assert via_explode.exceptAll(via_udtf).count() == 0


def test_multiprobe_lsh_improves_recall(spark, sf_dir):
    """Multi-probe candidates ⊇ single-probe; recall vs brute force improves."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)

    def pairs(df):
        return {(r["query_id"], r["corpus_id"]) for r in df.collect()}

    exact = pairs(similarity.cosine_topk_exact_baseline(emb, queries, "vec_id", "embedding", k=5))
    single = pairs(
        similarity.lsh_bucketed_topk(emb, queries, "vec_id", "embedding", k=5)
    )
    multi = pairs(
        similarity.lsh_bucketed_topk(
            emb, queries, "vec_id", "embedding", k=5, probe_flips=1
        )
    )
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    # more probes → more candidates → recall can only improve
    assert recall_multi >= recall_single
    # multi-probe fills out the full k for every query (single-probe
    # buckets often hold < k candidates)
    assert len(multi) >= len(single)
    assert len(multi) == len(exact)


def test_bucket_size_cap_bounds_hot_bucket(spark):
    """Adversarial hot bucket: many identical docs land in one LSH bucket;
    the cap drops that bucket so pair counts stay bounded, while distinct
    near-dup content outside the hot bucket still pairs up."""
    hot = [(i, "spam spam spam spam wonderful spam spam spam lovely spam") for i in range(40)]
    pair = [
        (100, "a perfectly normal document about distributed query engines today"),
        (101, "a perfectly normal document about distributed query engines now"),
    ]
    df = spark.createDataFrame(hot + pair, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.3
    ).count()
    assert uncapped >= 40 * 39 // 2  # hot bucket went quadratic

    capped = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.3,
        max_bucket_size=10, log_dropped=True,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got  # survivors outside the hot bucket still pair
    assert len(got) <= 10 * 9 // 2 * 4  # bounded by cap² per band

    # simhash and embedding variants accept the same guard
    sh = dedup.simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=3, max_bucket_size=10
    )
    assert sh.count() <= 10 * 9 // 2 * 4

    vecs = [(i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(30)] + [
        (100, [-1.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (101, [-1.0, 0.5, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    vp = dedup.embedding_near_dup_pairs_lsh(
        vdf, "vec_id", "embedding", threshold=0.5, max_bucket_size=10
    )
    vgot = {(r["id_a"], r["id_b"]) for r in vp.collect()}
    assert (100, 101) in vgot and len(vgot) <= 10 * 9 // 2


def test_ivf_layout_partition_pruning(spark, tmp_path, sf_dir):
    """ivf_write partitions by bucket; a probe of one bucket reads only that
    partition (PartitionFilters in the scan), and ivf_topk matches
    single-probe lsh_bucketed_topk exactly."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.ivf_write(emb, "vec_id", "embedding", path)

    # static probe: partition filter must reach the scan
    one = spark.read.parquet(path).where(F.col("bucket") == 3)
    plan = one._jdf.queryExecution().executedPlan().treeString()
    assert "PartitionFilters: [" in plan and "bucket" in plan

    queries = emb.where(F.col("vec_id") < 5)
    ivf = similarity.ivf_topk(spark, path, queries, "vec_id", "embedding", k=5)
    lsh = similarity.lsh_bucketed_topk(emb, queries, "vec_id", "embedding", k=5)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, lsh.collect()))


def test_star_clusters_match_label_propagation(spark, monkeypatch):
    """large-star/small-star (above the cap) and union-find (within it)
    return min-label propagation's rows on a random graph, and the true
    component on a 50-node chain (the adversarial diameter case)."""
    import random

    rng = random.Random(7)
    edges = set()
    for _ in range(200):
        a, b = rng.randrange(100), rng.randrange(100)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    ref = sorted_rows(propagation_reference(pairs))
    assert clusters_on_both_paths(monkeypatch, pairs) == [ref, ref]

    chain = [(i, i + 1) for i in range(50)]
    want = bfs_components(chain)
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    assert clusters_on_both_paths(monkeypatch, pairs) == [want, want]


def test_winnowing_guarantees(spark):
    """Winnowing (k=4, w=4): identical docs share all fingerprints; docs
    sharing a ≥(w+k−1)=7-word run share ≥1 fingerprint; short docs get
    none."""
    shared_run = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    df = spark.createDataFrame(
        [
            (1, f"unique prefix one two {shared_run} suffix here now"),
            (2, f"other starting words {shared_run} different tail text"),
            (3, f"unique prefix one two {shared_run} suffix here now"),
            (4, "completely unrelated content with no overlap at all whatsoever"),
            (5, "too short"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.winnow_fingerprints(df, "text").collect()}
    fps = {i: set(rows[i]["winnow_fps"].split(",")) - {""} for i in rows}
    assert fps[1] == fps[3]  # identical docs
    assert fps[1] & fps[2]  # shared 7-word run → shared fingerprint
    assert not (fps[1] & fps[4])
    assert fps[5] == set() and rows[5]["n_winnow_fps"] == 0
    # density sanity: fewer fingerprints than shingles
    assert 0 < rows[1]["n_winnow_fps"] <= len(rows[1]["text"].split()) - 3


def test_cms_sketch_bounds(spark):
    """CMS estimates never underestimate; a collision-free sketch is exact;
    the counter matrix never exceeds depth*width rows however many items."""
    from pyspark.sql import functions as F

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        sketches,
    )

    # 40 distinct items with known skewed counts: item_i appears i+1 times
    rows = [(f"tok{i}",) for i in range(40) for _ in range(i + 1)]
    items = spark.createDataFrame(rows, "item string")
    exact = {f"tok{i}": i + 1 for i in range(40)}

    sk = sketches.cms_build(items, "item", depth=3, width=1024)
    assert sk.count() <= 3 * 1024
    # every counter row is a partial sum of real occurrences
    total = sum(exact.values())
    per_row = sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect()
    assert all(r["s"] == total for r in per_row)

    queries = items.distinct()
    est = sketches.cms_estimate(queries, sk, "item", depth=3, width=1024).collect()
    assert len(est) == 40
    for r in est:
        assert r["cms_est"] >= exact[r["item"]]  # never under
    # width 1024 >> 40 items: overwhelmingly collision-free -> exact
    n_exact = sum(1 for r in est if r["cms_est"] == exact[r["item"]])
    assert n_exact >= 38

    hh = sketches.heavy_hitters_exact(items, "item", support_denom=25).collect()
    # threshold: cnt * 25 > 820  ->  cnt >= 33  ->  tok32..tok39
    assert sorted(r["item"] for r in hh) == [f"tok{i}" for i in range(32, 40)]
    assert all(r["exact_cnt"] == exact[r["item"]] for r in hh)


def test_repetition_features_gopher(spark):
    """Known-answer repetition fractions: pure repetition, no repetition,
    and a mixed case, including the bigram rules."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        text as text_ops,
    )

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # total repetition
            (2, "one two three four"),           # none
            (3, "a b a b x"),                    # mixed; bigram 'a b' twice
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in text_ops.repetition_features(df, "text").collect()
    }
    r1 = got[1]
    assert r1["rep_n_words"] == 4 and r1["rep_n_distinct_words"] == 1
    assert r1["rep_dup_word_frac"] == 0.75
    assert r1["rep_top_word_frac"] == 1.0
    assert r1["rep_dup_bigram_frac"] == 1.0  # all 3 bigrams are 'spam spam'
    assert r1["rep_top_bigram_frac"] == 1.0

    r2 = got[2]
    assert r2["rep_dup_word_frac"] == 0.0
    assert r2["rep_top_word_frac"] == 0.25
    assert r2["rep_dup_bigram_frac"] == 0.0

    r3 = got[3]  # words: a b a b x -> 5 words, 3 distinct
    assert r3["rep_n_words"] == 5 and r3["rep_n_distinct_words"] == 3
    assert r3["rep_dup_word_frac"] == 1.0 - 3 / 5
    assert r3["rep_top_word_frac"] == 2 / 5
    # bigrams: 'a b','b a','a b','b x' -> 'a b' twice of 4 slots
    assert r3["rep_dup_bigram_frac"] == 0.5
    assert r3["rep_top_bigram_frac"] == 0.5


def test_contamination_check_containment(spark):
    """Eval doc fully embedded in a longer train doc → containment 1.0;
    unrelated train doc never pairs. Asymmetric: Jaccard would be low for
    the embedded case, containment must be 1."""
    train = spark.createDataFrame(
        [
            (10, "padding words before the quick brown fox jumps over the "
                 "lazy dog padding words after the end"),
            (11, "completely unrelated training text about columnar engines "
                 "and vectorized execution at scale"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out = dedup.contamination_check(
        train, eval_df, "doc_id", "text", shingle_k=4, threshold=0.5
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["eval_id"], r["train_id"]) == (1, 10)
    assert abs(r["containment"] - 1.0) < 1e-9


def test_tfidf_top_terms_ranking(spark):
    """Ranking is (tf desc, df asc, term asc); corpus-wide words rank below
    doc-specific repeated words."""
    df = spark.createDataFrame(
        [
            (1, "shared shared alpha alpha alpha"),
            (2, "shared beta beta"),
            (3, "shared gamma"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_top_terms(df, "doc_id", "text", top_n=1).collect()
    top = {r["doc_id"]: (r["term"], r["tf"], r["df"]) for r in out}
    assert top[1] == ("alpha", 3, 1)
    assert top[2] == ("beta", 2, 1)
    assert top[3] == ("gamma", 1, 1)
    # tfidf payload: tf * ln(N/df) = 1 * ln(3) for gamma
    import math

    gamma = [r for r in out if r["doc_id"] == 3][0]
    assert abs(gamma["tfidf"] - math.log(3.0)) < 1e-9


def test_pack_sequences_straddles_boundaries(spark):
    """Docs concatenate in id order; a doc crossing a sequence boundary
    reports the straddled span; offsets are exact prefix sums."""
    df = spark.createDataFrame(
        [(1, " ".join(["w"] * 6)), (2, " ".join(["x"] * 3)),
         (3, " ".join(["y"] * 10)), (4, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["start_seq"], r["start_off"], r["end_seq"])
        for r in text.pack_sequences(df, "doc_id", "text", budget=8, chunk=2).collect()
    }
    # stream: doc1 tokens [0,6), doc2 [6,9) straddles seq 0->1,
    # doc3 [9,19) spans seqs 1..2; doc4 normalizes to one '' token [19,20)
    assert out[1] == (0, 0, 0)
    assert out[2] == (0, 6, 1)
    assert out[3] == (1, 1, 2)
    assert out[4] == (2, 3, 2)


def test_pack_sequences_matches_global_cumsum_any_chunk(spark):
    """The two-phase distributed scan is bit-identical to the naive global
    cumsum whatever the chunk size."""
    import random

    rng = random.Random(7)
    rows = [(i, " ".join(["t"] * rng.randint(1, 40))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = None
    for chunk in (1, 7, 64, 1000):
        got = sorted(
            tuple(r)
            for r in text.pack_sequences(
                df, "doc_id", "text", budget=16, chunk=chunk
            ).collect()
        )
        if expected is None:
            expected = got
        assert got == expected
