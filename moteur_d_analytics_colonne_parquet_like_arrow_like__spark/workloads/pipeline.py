"""Training-data-pipeline workload: dedup, similarity search, text analysis,
multimodal plumbing — each with a DuckDB oracle where SQL can express it.

The oracles share exact constants (MinHash permutation coefficients, primes,
stopword profiles, token regex) with the Spark operators, and both sides use
the md5-based stable hash family — so sketch outputs (MinHash signatures,
SimHash fingerprints) are bit-identical across engines, not just
approximately similar.

``sim_topk_ivf`` shares ``sim_topk_lsh``'s oracle: the same single-probe LSH
top-k, but read from an on-disk layout partitioned by bucket and probed with
partition pruning, so the gate pins the physical layout to the logical form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import HASH31_PRIME, MINHASH_COEFFS, PERM_PRIME, ngrams
from ..operators import dedup, multimodal, similarity, sorts, text
from ..sources.catalog import load_table, table_path
from ._scratch import derived

# ---------------------------------------------------------------- SQL pieces

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_H31 = "CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT) % {p}".format(
    s="{s}", p=HASH31_PRIME
)
_H60 = "CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def _shingle_cte(k: int, src: str = "documents") -> str:
    """CTEs docs→w→sh→h: distinct (doc_id, h31) per k-word shingle."""
    return f"""
        docs AS (SELECT doc_id, {_NORM} AS norm FROM {src}),
        w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM docs),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(words) - {k - 1}, 0)),
                       i -> array_to_string(words[i:i+{k - 1}], ' ')
                   ))) AS s
            FROM w
        ),
        h AS (SELECT DISTINCT doc_id, {_H31.format(s='s')} AS h31 FROM sh)
    """


def _minhash_sig_sql(num_hashes: int) -> str:
    cols = ", ".join(
        f"min(({a} * h31 + {b}) % {PERM_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
    )
    return f"sig AS (SELECT doc_id, {cols} FROM h GROUP BY doc_id)"


# ------------------------------------------------------------------- queries


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.exact_dedup(_documents(spark, sf_dir), "doc_id", ["text"])
    return out.orderBy("keeper_id")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _documents(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_k=3,
        threshold=0.5,
    ).orderBy("id_a", "id_b")


def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with the production skew guard ON (max_bucket_size=4 —
    small enough that real buckets get dropped at this SF, proving the cap
    is semantically mirrored by the oracle, not a no-op)."""
    return dedup.minhash_lsh_pairs(
        _documents(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_k=3,
        threshold=0.5,
        max_bucket_size=4,
    ).orderBy("id_a", "id_b")


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _documents(spark, sf_dir), "doc_id", "text", shingle_k=3, threshold=0.8
    ).orderBy("id_a", "id_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_fingerprints(
        _documents(spark, sf_dir), "doc_id", "text", shingle_k=2
    ).orderBy("doc_id")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dup_pairs(
        _documents(spark, sf_dir), "doc_id", "text", max_hamming=3, shingle_k=2
    ).orderBy("id_a", "id_b")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.embedding_near_dup_pairs_exact_baseline(
        _embeddings(spark, sf_dir), "vec_id", "embedding", threshold=0.45
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine_r")
    ).orderBy("id_a", "id_b")


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding dedup: sign-bucket LSH candidates only."""
    out = dedup.embedding_near_dup_pairs_lsh(
        _embeddings(spark, sf_dir), "vec_id", "embedding", threshold=0.4
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine_r")
    ).orderBy("id_a", "id_b")


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    # Output bounded by |queries| x k (50 rows at any SF):
    # order_by_bounded (coalesce(1) + local sort) replaces the
    # presentation orderBy's range exchange (r13 opt: 160 -> 116 ms
    # median, order-identical).
    return sorts.order_by_bounded(
        similarity.cosine_topk_exact_baseline(
            emb, queries, "vec_id", "embedding", k=5
        ),
        ["query_id", "rnk"],
    )


def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=5
    ).orderBy("query_id", "rnk")


def q_sim_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: base bucket + all hamming-1 probes."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=5, probe_flips=1
    ).orderBy("query_id", "rnk")


def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-layout ANN: the corpus is persisted partitioned by LSH bucket
    (once per sf, cached on disk), then probed with partition pruning —
    results identical to single-probe LSH top-k, which the oracle verifies."""
    emb = _embeddings(spark, sf_dir)

    def build(d: str) -> None:
        similarity.ivf_write(emb, "vec_id", "embedding", os.path.join(d, "ivf"))

    path = os.path.join(
        derived("ivf_layout", [table_path(sf_dir, "embeddings")], build), "ivf"
    )
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        spark, path, queries, "vec_id", "embedding", k=5
    ).orderBy("query_id", "rnk")


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.lang_id(_documents(spark, sf_dir), "text")
    return out.select("doc_id", "lang", "lang_pred").orderBy("doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.quality_features(
        _documents(spark, sf_dir).select("doc_id", "text"), "text"
    )
    return out.select(
        "doc_id",
        "q_chars",
        "q_words",
        "q_mean_word_len",
        "q_punct_ratio",
        "q_digit_ratio",
        "q_stop_ratio",
        "q_score",
    ).orderBy("doc_id")


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.token_counts(
        _documents(spark, sf_dir).select("doc_id", "text"), "text"
    )
    return out.select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens", "chars_per_token"
    ).orderBy("doc_id")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.doc_fingerprints(
        _documents(spark, sf_dir).select("doc_id", "text"), "text", shingle_k=4
    )
    return out.select(
        "doc_id", "fp_exact", "fp_min_shingle", "fp_max_shingle"
    ).orderBy("doc_id")


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass over documents: per-category counts + a stable
    hash of the redacted text (verifies the replacement byte-for-byte)."""
    from ..functions import stable_hash60

    out = text.redact_pii(_documents(spark, sf_dir).select("doc_id", "text"), "text")
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        stable_hash60(F.col("text_redacted")).alias("redacted_fp"),
    ).orderBy("doc_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to duplicate clusters (connected components:
    union-find on the driver within its memory cap, large-star/small-star
    above it)."""
    pairs = dedup.ngram_jaccard_pairs(
        _documents(spark, sf_dir), "doc_id", "text", shingle_k=3, threshold=0.8
    )
    return dedup.duplicate_clusters(pairs).orderBy("node")


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS): per-doc distinct window-minima of the
    ordered shingle-hash sequence — identical docs share ALL fingerprints,
    docs sharing any ≥(window+k−1)-word run share ≥1.

    The projection is the most compute-heavy per-row expression in the
    repo (O(shingles·window) hash/array work), and the driver testdata is
    one row group = one input task — repartition first so the work spreads
    across cores on ANY session (content-invariant: output is re-sorted)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text").repartition(32)
    out = text.winnow_fingerprints(docs, "text")
    return out.select("doc_id", "n_winnow_fps", "winnow_fps").orderBy("doc_id")


def q_pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation report — the one-page summary every training-data
    run produces: per predicted language, document count, distinct-content
    count, total token volume, and the quality-score range. Composes
    lang-ID + quality + content hashing in one pass; every aggregate is
    order-independent-exact (counts, integer sums, min/max of identical
    per-row doubles), so no float-merge nondeterminism."""
    from ..functions import stable_hash60

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    enriched = text.quality_features(text.lang_id(docs, "text"), "text")
    return (
        enriched.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(stable_hash60(F.col("text"))).alias("n_unique"),
            F.sum("q_words").alias("total_words"),
            F.min("q_score").alias("min_q_score"),
            F.max("q_score").alias("max_q_score"),
        )
        .orderBy("lang_pred")
    )


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality-filter documents, resolve near-dup
    clusters among survivors, keep one doc per cluster (smallest id).
    Returns the kept doc ids — the shape of a real training-data pass."""
    docs = _documents(spark, sf_dir)
    scored = text.quality_features(docs.select("doc_id", "text"), "text")
    kept_quality = scored.where(F.col("q_score") >= 0.5).select("doc_id", "text")
    pairs = dedup.ngram_jaccard_pairs(
        kept_quality, "doc_id", "text", shingle_k=3, threshold=0.8
    )
    clusters = dedup.duplicate_clusters(pairs)
    # drop any doc whose cluster label is a smaller id (a kept duplicate)
    dropped = clusters.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return (
        kept_quality.join(dropped, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over document bigrams (operators/sketches):
    frequent-n-gram mining — the boilerplate/template detector of a
    training-data pipeline — done sketch-first. The d×w counter matrix is
    one grouped aggregation (cardinality ≤ d·w however large the corpus),
    heavy hitters (support > 1/1000 — the corpus is near-uniform synthetic text, so the threshold sits where real items cross it at every SF) come from the exact two-phase count, and
    each hitter's CMS point estimate rides a broadcast probe join.

    Everything — hashes, counters, estimates, the never-under and
    within-2n/w error-bound booleans — is deterministic md5-family math,
    so the full sketch behavior hash-checks against DuckDB, not just a
    rows-only smoke (the agg_approx_sketches pattern applied to a real
    sketch data structure)."""
    from ..operators import sketches

    docs = _documents(spark, sf_dir)
    grams = ngrams(F.split(F.trim(F.col("text")), r"\s+"), 2)
    items = docs.select(F.explode(grams).alias("item")).cache()
    hh = sketches.heavy_hitters_exact(items, "item", support_denom=1000)
    sk = sketches.cms_build(items, "item", depth=3, width=256)
    est = sketches.cms_estimate(hh, sk, "item", depth=3, width=256)
    return est.select(
        "item",
        "exact_cnt",
        "n_total",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("over_est"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_under"),
        (
            (F.col("cms_est") - F.col("exact_cnt")) * 256 <= F.col("n_total") * 2
        ).alias("within_bound"),
    ).orderBy(F.col("exact_cnt").desc(), F.col("item").asc())


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-container media (BMP/WAV bytes + fake MP4) → mapInPandas decode
    that PARSES the actual container headers → per-kind rollup.

    Oracle-checkable because generate_real_media's metadata is an analytic
    function of the id: Spark recovers dims/durations by parsing blob bytes,
    DuckDB computes the same numbers from the generating formulas — if the
    parser or writer is off by a byte, the hashes diverge."""
    media = multimodal.generate_real_media(spark, 300)
    feats = multimodal.decode_media(media)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("byte_len").cast("bigint").alias("total_bytes"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            F.sum("duration_ms").cast("bigint").alias("sum_duration_ms"),
        )
        .orderBy("kind")
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_minhash_capped": q_dedup_minhash_capped,
    "dedup_ngram_jaccard": q_dedup_ngram,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "sim_topk_bruteforce": q_sim_topk_bruteforce,
    "sim_topk_lsh": q_sim_topk_lsh,
    "sim_topk_lsh_multiprobe": q_sim_topk_lsh_multiprobe,
    "sim_topk_ivf": q_sim_topk_ivf,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
    "text_winnow": q_text_winnow,
    "text_pii": q_text_pii,
    "dedup_clusters": q_dedup_clusters,
    "pipeline_curate": q_pipeline_curate,
    "pipeline_corpus_report": q_pipeline_corpus_report,
    "sketch_heavy_hitters": q_sketch_heavy_hitters,
    "multimodal_decode": q_multimodal_decode,
}


def _jaccard_pairs_sql(k: int, threshold: float, src: str = "documents") -> str:
    """CTE chain ending in ``pairs(id_a, id_b)`` with jaccard ≥ threshold."""
    return f"""
        {_shingle_cte(k, src)},
        sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM h a JOIN h b ON a.h31 = b.h31 AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b FROM common
            JOIN sizes na ON na.doc_id = id_a
            JOIN sizes nb ON nb.doc_id = id_b
            WHERE n_common / (na.n + nb.n - n_common) >= {threshold}
        )
    """


_CLUSTERS_SQL = """
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS node, src AS label FROM edges
            UNION
            SELECT e.src AS node, r.label
            FROM edges e JOIN reach r ON e.dst = r.node
        ),
        clusters AS (
            SELECT node, min(label) AS label FROM reach GROUP BY node
        )
"""

def _quality_kept_sql() -> str:
    return f"""
        qd AS (SELECT doc_id, text, {_NORM} AS norm FROM documents),
        qf AS (
            SELECT doc_id, text,
                   length(norm) AS n_chars,
                   len(string_split(norm, ' ')) AS n_words,
                   length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS punct,
                   length(regexp_replace(norm, '[^0-9]', '', 'g')) AS digits,
                   len(list_filter(string_split(norm, ' '),
                       w -> list_contains([{_EN_WORDS}], w))) AS stop
            FROM qd
        ),
        kept AS (
            SELECT doc_id, text FROM qf
            WHERE 0.4 * (stop / n_words) + 0.3 * (1.0 - punct / n_chars)
                  + 0.2 * (least(CAST(n_words AS DOUBLE), 100.0) / 100.0)
                  + 0.1 * (1.0 - digits / n_chars) >= 0.5
        )
"""


# ------------------------------------------------------------------- oracles


def _bands_cte(nh: int = 16, bands: int = 4) -> str:
    """``bands(doc_id, band, key)`` over an existing ``sig`` CTE — the
    LSH band-entry relation on its own, shared by ``_minhash_pairs_sql``
    and the ``pipeline_cap_advisor`` census oracle so the advisor
    audits the IDENTICAL key space the pairing join caps."""
    rpb = nh // bands
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS key FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"bands AS ({band_selects})"


def _minhash_pairs_sql(
    max_bucket: int | str | None = None,
    nh: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """CTE chain ``bands → … → pairs(id_a, id_b, est_jaccard)`` over an
    existing ``sig`` CTE (from ``_minhash_sig_sql``) — the SQL twin of
    ``dedup.minhash_lsh_pairs`` minus the shingle/signature prefix, so
    composed oracles (``pipeline_end_to_end``) can run the same banding
    over a filtered doc set. The bucket-cap CTE mirrors
    ``dedup.cap_bucket_size``: drop (band, key) buckets over the cap
    before candidate pairing."""
    eq_sum = " + ".join(
        f"CAST((sa.mh{i} = sb.mh{i}) AS INT)" for i in range(nh)
    )
    if max_bucket == "advised":
        # the cap-advisor census INSIDE the oracle (round 11): mirror of
        # dedup.bucket_cap_advisor — advised = greatest(entry-weighted
        # modal occupancy above singletons, majority occupancy) — so the
        # oracle self-adapts to the corpus exactly like the Spark side's
        # max_bucket_size="advised" path. All integer arithmetic.
        cap_ctes = """bcounts AS (
            SELECT band, key, CAST(COUNT(*) AS BIGINT) AS bsz
            FROM bands GROUP BY band, key
        ),
        bcensus AS (
            SELECT bsz, CAST(COUNT(*) AS BIGINT) AS nb
            FROM bcounts GROUP BY bsz
        ),
        bc2 AS (
            SELECT bsz, nb, CAST(bsz * nb AS BIGINT) AS ne FROM bcensus
        ),
        bc3 AS (
            SELECT *, CAST(SUM(ne) OVER (
                ORDER BY bsz
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS ce FROM bc2
        ),
        btot AS (SELECT CAST(SUM(ne) AS BIGINT) AS t FROM bc2),
        bmaxe AS (SELECT MAX(ne) AS me FROM bc2 WHERE bsz >= 2),
        bmodal AS (
            SELECT COALESCE(MAX(bc2.bsz), 1) AS m FROM bc2, bmaxe
            WHERE bc2.bsz >= 2 AND bc2.ne = bmaxe.me
        ),
        bmaj AS (
            SELECT MIN(bsz) AS j FROM bc3, btot WHERE ce * 3 >= 2 * t
        ),
        badv AS (SELECT GREATEST(m, j) AS cap FROM bmodal, bmaj),
        bkept AS (
            SELECT band, key FROM bcounts, badv WHERE bsz <= cap
        ),
        bandsk AS (SELECT b.* FROM bands b JOIN bkept USING (band, key)),"""
    elif max_bucket is not None:
        cap_ctes = f"""bkept AS (
            SELECT band, key FROM bands GROUP BY band, key
            HAVING COUNT(*) <= {max_bucket}
        ),
        bandsk AS (SELECT b.* FROM bands b JOIN bkept USING (band, key)),"""
    else:
        cap_ctes = "bandsk AS (SELECT * FROM bands),"
    return f"""
        {_bands_cte(nh, bands)},
        {cap_ctes}
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bandsk a JOIN bandsk b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b, ({eq_sum}) / {nh}.0 AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
            WHERE ({eq_sum}) / {nh}.0 >= {threshold}
        )
    """


def _minhash_oracle(max_bucket: int | None = None) -> str:
    return f"""
        WITH {_shingle_cte(3)},
        {_minhash_sig_sql(16)},
        {_minhash_pairs_sql(max_bucket)}
        SELECT id_a, id_b, est_jaccard FROM pairs
        ORDER BY id_a, id_b
    """


def _simhash_fp_sql(num_bits: int = 31) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h31 >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(num_bits)
    )
    fp = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(num_bits)
    )
    return f"""
        agg AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg)
    """


def _simhash_oracle() -> str:
    return f"""
        WITH {_shingle_cte(2)},
        {_simhash_fp_sql()}
        SELECT doc_id, simhash FROM fps ORDER BY doc_id
    """


def _simhash_pairs_oracle(max_hamming: int = 3) -> str:
    chunks = max_hamming + 1
    per = (31 + chunks - 1) // chunks
    chunk_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {c} AS chunk, "
        f"(simhash >> {c * per}) & {(1 << per) - 1} AS key FROM fps"
        for c in range(chunks)
    )
    return f"""
        WITH {_shingle_cte(2)},
        {_simhash_fp_sql()},
        entries AS ({chunk_selects}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
            FROM entries a JOIN entries b
              ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming FROM pairs
        WHERE hamming <= {max_hamming}
        ORDER BY id_a, id_b
    """


_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)

_LANG_SCORES = {
    lang: "len(list_filter(string_split({norm}, ' '), w -> list_contains([{words}], w)))".format(
        norm="norm", words=", ".join(f"'{w}'" for w in text.LANG_PROFILES[lang])
    )
    for lang in sorted(text.LANG_PROFILES)
}


def _lang_id_oracle() -> str:
    scores = ", ".join(f"{sql} AS s_{lang}" for lang, sql in _LANG_SCORES.items())
    langs = sorted(text.LANG_PROFILES)
    best = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{la} = {best} THEN '{la}'" for la in langs
    ) + " END"
    return f"""
        WITH docs AS (SELECT doc_id, lang, {_NORM} AS norm FROM documents),
        scored AS (SELECT doc_id, lang, {scores} FROM docs)
        SELECT doc_id, lang, {case} AS lang_pred FROM scored ORDER BY doc_id
    """


_EN_WORDS = ", ".join(f"'{w}'" for w in text.LANG_PROFILES["en"])

ORACLES = {
    "dedup_exact": f"""
        SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
        FROM documents
        GROUP BY {_H60.format(s='text')}
        ORDER BY keeper_id
    """,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_minhash_capped": _minhash_oracle(max_bucket=4),
    "dedup_ngram_jaccard": f"""
        WITH {_shingle_cte(3)},
        sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM h a JOIN h b ON a.h31 = b.h31 AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               n_common / (na.n + nb.n - n_common) AS jaccard
        FROM common
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE n_common / (na.n + nb.n - n_common) >= 0.8
        ORDER BY id_a, id_b
    """,
    "dedup_simhash": _simhash_oracle(),
    "dedup_simhash_pairs": _simhash_pairs_oracle(),
    "dedup_embedding": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_DOT}, 6) AS cosine_r
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_DOT} >= 0.45
        ORDER BY id_a, id_b
    """,
    "dedup_embedding_lsh": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding,
                   {' + '.join(f'CASE WHEN embedding[{d + 1}] >= 0 THEN {2**i} ELSE 0 END' for i, d in enumerate(similarity.DEFAULT_BUCKET_DIMS))} AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_DOT}, 6) AS cosine_r
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_DOT} >= 0.4
        ORDER BY id_a, id_b
    """,
    "sim_topk_bruteforce": f"""
        WITH scored AS (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   round({_DOT}, 6) AS cosine_r
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT query_id, corpus_id, cosine_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_r DESC, corpus_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, corpus_id, cosine_r, rnk FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    "sim_topk_lsh": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding,
                   {' + '.join(f'CASE WHEN embedding[{d + 1}] >= 0 THEN {2**i} ELSE 0 END' for i, d in enumerate(similarity.DEFAULT_BUCKET_DIMS))} AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   round({_DOT}, 6) AS cosine_r
            FROM bucketed a JOIN bucketed b
              ON a.bucket = b.bucket AND b.vec_id < 10 AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT query_id, corpus_id, cosine_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_r DESC, corpus_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, corpus_id, cosine_r, rnk FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    "sim_topk_lsh_multiprobe": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding,
                   {' + '.join(f'CASE WHEN embedding[{d + 1}] >= 0 THEN {2**i} ELSE 0 END' for i, d in enumerate(similarity.DEFAULT_BUCKET_DIMS))} AS bucket
            FROM embeddings
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS qemb,
                   unnest([bucket, {', '.join(f'xor(bucket, {1 << i})' for i in range(len(similarity.DEFAULT_BUCKET_DIMS)))}]) AS bucket
            FROM bucketed WHERE vec_id < 10
        ),
        cand AS (
            SELECT DISTINCT p.query_id, c.vec_id AS corpus_id
            FROM probes p JOIN bucketed c ON p.bucket = c.bucket
            WHERE p.query_id <> c.vec_id
        ),
        scored AS (
            SELECT cand.query_id, cand.corpus_id,
                   round(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                       (x, y) -> x + y), 6) AS cosine_r
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings c ON c.vec_id = cand.corpus_id
        ),
        ranked AS (
            SELECT query_id, corpus_id, cosine_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_r DESC, corpus_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, corpus_id, cosine_r, rnk FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    "text_lang_id": _lang_id_oracle(),
    "text_quality": f"""
        WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
        f AS (
            SELECT doc_id, norm,
                   length(norm) AS n_chars,
                   len(string_split(norm, ' ')) AS n_words,
                   length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS punct,
                   length(regexp_replace(norm, '[^0-9]', '', 'g')) AS digits,
                   len(list_filter(string_split(norm, ' '),
                       w -> list_contains([{_EN_WORDS}], w))) AS stop
            FROM d
        )
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS q_chars,
               CAST(n_words AS BIGINT) AS q_words,
               n_chars / n_words AS q_mean_word_len,
               punct / n_chars AS q_punct_ratio,
               digits / n_chars AS q_digit_ratio,
               stop / n_words AS q_stop_ratio,
               0.4 * (stop / n_words) + 0.3 * (1.0 - punct / n_chars)
                 + 0.2 * (least(CAST(n_words AS DOUBLE), 100.0) / 100.0)
                 + 0.1 * (1.0 - digits / n_chars) AS q_score
        FROM f ORDER BY doc_id
    """,
    "text_tokens": f"""
        WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents)
        SELECT doc_id,
               CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(norm, '{text.TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
               length(norm) / len(regexp_extract_all(norm, '{text.TOKEN_PATTERN}')) AS chars_per_token
        FROM d ORDER BY doc_id
    """,
    "text_fingerprint": f"""
        WITH docs AS (SELECT doc_id, {_NORM} AS norm FROM documents),
        w AS (SELECT doc_id, norm, string_split(norm, ' ') AS words FROM docs),
        shl AS (
            SELECT doc_id, norm,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(words) - 3, 0)),
                       i -> array_to_string(words[i:i+3], ' ')
                   )) AS shingles
            FROM w
        )
        SELECT doc_id,
               {_H60.format(s='norm')} AS fp_exact,
               list_min(list_transform(shingles, s -> {_H31.format(s='s')})) AS fp_min_shingle,
               list_max(list_transform(shingles, s -> {_H31.format(s='s')})) AS fp_max_shingle
        FROM shl ORDER BY doc_id
    """,
    "text_pii": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{7,}[0-9]')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
               CAST(concat('0x', substr(md5(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
                       '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IPV4>', 'g')
               ), 1, 15)) AS BIGINT) AS redacted_fp
        FROM documents
        ORDER BY doc_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_jaccard_pairs_sql(3, 0.8)},
        {_CLUSTERS_SQL}
        SELECT node, label FROM clusters ORDER BY node
    """,
    "pipeline_curate": f"""
        WITH RECURSIVE {_quality_kept_sql()},
        {_jaccard_pairs_sql(3, 0.8, src="kept")},
        {_CLUSTERS_SQL},
        dropped AS (SELECT node AS doc_id FROM clusters WHERE node <> label)
        SELECT k.doc_id FROM kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
        ORDER BY k.doc_id
    """,
    # multimodal_decode: the decode is a mapInPandas stage over real BMP/WAV
    # bytes, but its OUTPUT is analytic in the id (generate_real_media
    # docstring), so the oracle recomputes the same metadata from formulas —
    # Spark must actually parse the container headers to match.
    "multimodal_decode": """
        WITH m AS (
            SELECT id,
                CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                CASE id % 3
                    WHEN 0 THEN 54 + ((3 * ((id % 31 + 1) * 4) + 3) // 4 * 4) * ((id % 23 + 1) * 4)
                    WHEN 1 THEN 44 + 160 * (id % 50 + 1)
                    ELSE 240 + (id % 200) END AS byte_len,
                CASE id % 3 WHEN 0 THEN (id % 31 + 1) * 4 WHEN 2 THEN (id % 16 + 1) * 16 END AS width,
                CASE id % 3 WHEN 0 THEN (id % 23 + 1) * 4 WHEN 2 THEN (id % 9 + 1) * 16 END AS height,
                CASE id % 3 WHEN 1 THEN (id % 50 + 1) * 10 WHEN 2 THEN (id % 60 + 1) * 500 END AS duration_ms
            FROM range(0, 300) t(id))
        SELECT kind, COUNT(*) AS n,
               CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
               CAST(SUM(width) AS BIGINT) AS sum_width,
               CAST(SUM(height) AS BIGINT) AS sum_height,
               CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms
        FROM m GROUP BY kind ORDER BY kind
    """,
}

# The IVF layout is a physical re-organization of the same LSH bucketing —
# logically identical to single-probe bucketed top-k, so it shares that
# oracle verbatim.
ORACLES["sim_topk_ivf"] = ORACLES["sim_topk_lsh"]

# The star gate's engine (large-star/small-star) is now ``duplicate_clusters``'
# own path above the union-find cap, so it names the same query and oracle;
# it stays registered for its signature history.
QUERIES["dedup_clusters_star"] = q_dedup_clusters
ORACLES["dedup_clusters_star"] = ORACLES["dedup_clusters"]

_LANG_SCORE_CASE = None  # composed below


def _corpus_report_oracle() -> str:
    scores = ", ".join(f"{sql} AS s_{lang}" for lang, sql in _LANG_SCORES.items())
    langs = sorted(text.LANG_PROFILES)
    best = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{la} = {best} THEN '{la}'" for la in langs
    ) + " END"
    return f"""
        WITH d AS (SELECT doc_id, text, {_NORM} AS norm FROM documents),
        f AS (
            SELECT doc_id, text, norm,
                   length(norm) AS n_chars,
                   len(string_split(norm, ' ')) AS n_words,
                   length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS punct,
                   length(regexp_replace(norm, '[^0-9]', '', 'g')) AS digits,
                   len(list_filter(string_split(norm, ' '),
                       w -> list_contains([{_EN_WORDS}], w))) AS stop,
                   {scores}
            FROM d
        ),
        g AS (
            SELECT doc_id, text, n_words,
                   {case} AS lang_pred,
                   0.4 * (stop / n_words) + 0.3 * (1.0 - punct / n_chars)
                   + 0.2 * (least(CAST(n_words AS DOUBLE), 100.0) / 100.0)
                   + 0.1 * (1.0 - digits / n_chars) AS q_score
            FROM f
        )
        SELECT lang_pred, COUNT(*) AS n_docs,
               COUNT(DISTINCT {_H60.format(s='text')}) AS n_unique,
               CAST(SUM(n_words) AS BIGINT) AS total_words,
               MIN(q_score) AS min_q_score,
               MAX(q_score) AS max_q_score
        FROM g GROUP BY lang_pred ORDER BY lang_pred
    """


ORACLES["pipeline_corpus_report"] = _corpus_report_oracle()

# Winnowing: ordered (duplicate-preserving) shingle hashes, window minima,
# distinct + sort. k=4, window=4 must match winnow_fingerprints defaults.
ORACLES["text_winnow"] = f"""
    WITH docs AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM docs),
    hs AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(words) - 3, 0)),
                   i -> {_H31.format(s="array_to_string(words[i:i+3], ' ')")}
               ) AS hashes
        FROM w
    ),
    fp AS (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   generate_series(1, greatest(len(hashes) - 3, 0)),
                   i -> list_min(hashes[i:i+3])
               ))) AS fps
        FROM hs
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_winnow_fps,
           array_to_string(fps, ',') AS winnow_fps
    FROM fp ORDER BY doc_id
"""

# Count-min sketch: the full d×w counter matrix, point estimates, and error
# bounds recomputed in SQL with the same md5 hash family (d=3, w=256,
# support > 1/1000 must match q_sketch_heavy_hitters).
ORACLES["sketch_heavy_hitters"] = r"""
    WITH grams AS (
        SELECT unnest(list_transform(
            generate_series(1,
                greatest(len(string_split_regex(trim(text), '\s+')) - 1, 0)),
            i -> array_to_string(
                (string_split_regex(trim(text), '\s+'))[i:i+1], ' ')
        )) AS item
        FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM grams),
    exact AS (SELECT item, COUNT(*) AS exact_cnt FROM grams GROUP BY item),
    hh AS (
        SELECT item, exact_cnt, n_total
        FROM exact, tot WHERE exact_cnt * 1000 > n_total
    ),
    entries AS (
        SELECT r,
               CAST(concat('0x', substr(md5(concat(r, ':', item)), 1, 15))
                    AS BIGINT) % 256 AS bucket
        FROM grams, generate_series(0, 2) AS t(r)
    ),
    sketch AS (
        SELECT r, bucket, COUNT(*) AS cnt FROM entries GROUP BY r, bucket
    ),
    probes AS (
        SELECT hh.item, hh.exact_cnt, hh.n_total, r,
               CAST(concat('0x', substr(md5(concat(r, ':', hh.item)), 1, 15))
                    AS BIGINT) % 256 AS bucket
        FROM hh, generate_series(0, 2) AS t(r)
    ),
    est AS (
        SELECT p.item, p.exact_cnt, p.n_total, MIN(s.cnt) AS cms_est
        FROM probes p
        JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
        GROUP BY 1, 2, 3
    )
    SELECT item, exact_cnt, n_total, cms_est,
           cms_est - exact_cnt AS over_est,
           cms_est >= exact_cnt AS never_under,
           (cms_est - exact_cnt) * 256 <= n_total * 2 AS within_bound
    FROM est
    ORDER BY exact_cnt DESC, item ASC
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters on the gate (operators/text.
    repetition_features): per-doc duplicate-word / top-word / bigram
    repetition fractions — all ratios of exact integer counts, recomputed
    in DuckDB with the same normalization, so the filter thresholds a real
    curation run would apply are value-checked, not eyeballed."""
    out = text.repetition_features(
        _documents(spark, sf_dir).select("doc_id", "text"), "text"
    )
    return out.select(
        "doc_id",
        "rep_n_words",
        "rep_n_distinct_words",
        "rep_dup_word_frac",
        "rep_top_word_frac",
        "rep_dup_bigram_frac",
        "rep_top_bigram_frac",
    ).orderBy("doc_id")


QUERIES["text_repetition"] = q_text_repetition

# Repetition: same normalization (_NORM), same bigram construction, ratios
# of exact integer counts. DuckDB nested list lambdas capture the outer
# element, mirroring the Spark higher-order expressions.
ORACLES["text_repetition"] = f"""
    WITH w AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
    ),
    b AS (
        SELECT doc_id, ws,
               list_transform(
                   generate_series(1, greatest(len(ws) - 1, 0)),
                   i -> array_to_string(ws[i:i+1], ' ')
               ) AS bg
        FROM w
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS rep_n_words,
           CAST(len(list_distinct(ws)) AS BIGINT) AS rep_n_distinct_words,
           1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE)
               AS rep_dup_word_frac,
           list_max(list_transform(list_distinct(ws),
               w2 -> len(list_filter(ws, x -> x = w2))))
               / CAST(len(ws) AS DOUBLE) AS rep_top_word_frac,
           CASE WHEN len(bg) > 0 THEN
               len(list_filter(bg,
                   x -> len(list_filter(bg, y -> y = x)) > 1))
               / CAST(len(bg) AS DOUBLE) ELSE 0.0 END
               AS rep_dup_bigram_frac,
           CASE WHEN len(bg) > 0 THEN
               list_max(list_transform(list_distinct(bg),
                   w2 -> len(list_filter(bg, x -> x = w2))))
               / CAST(len(bg) AS DOUBLE) ELSE 0.0 END
               AS rep_top_bigram_frac
    FROM b
    ORDER BY doc_id
"""


def q_pipeline_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 29 == 0 play the held-
    out eval suite, the rest the training corpus; flag (eval, train) pairs
    whose 4-gram containment |eval ∩ train| / |eval| ≥ 0.5. Containment
    (not Jaccard) catches short benchmark items embedded in long pages.
    The eval side broadcasts; the train side meets it in an inverted-index
    equi-join on the shingle hash — the train corpus never shuffles."""
    docs = _documents(spark, sf_dir)
    eval_df = docs.where(F.col("doc_id") % 29 == 0)
    train = docs.where(F.col("doc_id") % 29 != 0)
    out = dedup.contamination_check(
        train, eval_df, "doc_id", "text", shingle_k=4, threshold=0.5
    )
    return out.select(
        "eval_id", "train_id", F.round("containment", 6).alias("containment_r")
    ).orderBy("eval_id", "train_id")


QUERIES["pipeline_contamination"] = q_pipeline_contamination

# Same shingle CTEs as the jaccard oracles (k=4), split into eval/train,
# asymmetric containment against the EVAL shingle count.
ORACLES["pipeline_contamination"] = f"""
    WITH {_shingle_cte(4)},
    ev AS (SELECT * FROM h WHERE doc_id % 29 = 0),
    tr AS (SELECT * FROM h WHERE doc_id % 29 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_eval FROM ev GROUP BY doc_id),
    common AS (
        SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id,
               COUNT(*) AS n_common
        FROM tr JOIN ev USING (h31)
        GROUP BY 1, 2
    )
    SELECT eval_id, train_id,
           round(n_common / n_eval, 6) AS containment_r
    FROM common JOIN sizes ON common.eval_id = sizes.doc_id
    WHERE n_common / n_eval >= 0.5
    ORDER BY eval_id, train_id
"""


def q_text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 characteristic terms per document by (tf desc, df asc, term
    asc) — an integer-exact ranking, reproducible across engines — with
    the tf·ln(N/df) score as payload. The keyword-extraction pass of a
    curation pipeline: one explode, two aggregations, a 1-row broadcast
    for the corpus size."""
    out = text.tfidf_top_terms(
        _documents(spark, sf_dir).select("doc_id", "text"), "doc_id", "text",
        top_n=2,
    )
    return out.select(
        "doc_id", "term", "tf", "df", "rnk",
        F.round("tfidf", 6).alias("tfidf_r"),
    ).orderBy("doc_id", "rnk")


QUERIES["text_tfidf_terms"] = q_text_tfidf_terms

# tf/df are exact counts; ln is natural log on both engines; the float
# score never decides ordering (ranking is count- and string-keyed).
ORACLES["text_tfidf_terms"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
    ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC
               ) AS rnk,
               round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf_r
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, rnk, tfidf_r
    FROM ranked WHERE rnk <= 2
    ORDER BY doc_id, rnk
"""


def q_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: every document's span in the concatenated 512-
    token training-sequence stream, via the two-phase distributed prefix
    sum in operators/text.py (bit-identical to a global cumsum, without
    the single-task global window)."""
    out = text.pack_sequences(
        _documents(spark, sf_dir).select("doc_id", "text"),
        "doc_id",
        "text",
        budget=512,
        chunk=64,
    )
    return out.orderBy("doc_id")


QUERIES["pipeline_pack_sequences"] = q_pipeline_pack_sequences

# The oracle IS the naive global cumsum the distributed scan must equal.
ORACLES["pipeline_pack_sequences"] = f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM toks WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens,
           (cum - n_tokens) // 512 AS start_seq,
           (cum - n_tokens) % 512 AS start_off,
           (cum - 1) // 512 AS end_seq
    FROM c ORDER BY doc_id
"""


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-class sampling (the reservoir-per-group of a
    class-balancing pass): keep exactly 3 docs per language, chosen by
    stable-hash order so the "reservoir" is reproducible across engines,
    runs, and partitionings. One shuffle on the group key; the per-group
    window never sees more than the group's rows."""
    from pyspark.sql import Window

    from ..functions import stable_hash60

    docs = _documents(spark, sf_dir)
    hkey = stable_hash60(F.concat(F.lit("smp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(hkey.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", F.col("rn").cast("bigint").alias("rn"), "doc_id")
        .orderBy("lang", "rn")
    )


QUERIES["sample_per_group"] = q_sample_per_group

ORACLES["sample_per_group"] = f"""
    WITH hashed AS (
        SELECT lang, doc_id,
               {_H60.format(s="concat('smp:', CAST(doc_id AS VARCHAR))")} AS hk
        FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang ORDER BY hk ASC, doc_id ASC
               ) AS rn
        FROM hashed
    )
    SELECT lang, rn, doc_id FROM ranked WHERE rn <= 3
    ORDER BY lang, rn
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction from REAL PCM bytes: the Spark side walks
    each WAV's RIFF chunks and computes energy/peak/zero-crossings from
    the decoded samples; the oracle recomputes the same integers from the
    generator's closed form (samples s_i = (i·257) mod 65536 − 32768) —
    one wrong byte offset in the parser and every hash diverges."""
    media = multimodal.generate_real_media(spark, 300)
    return multimodal.audio_features(media).orderBy("media_id")


QUERIES["multimodal_audio_features"] = q_multimodal_audio_features

ORACLES["multimodal_audio_features"] = """
    WITH ids AS (SELECT unnest(range(0, 300)) AS id),
    a AS (SELECT id, (id % 50 + 1) * 80 AS n FROM ids WHERE id % 3 = 1),
    s AS (
        SELECT id, n,
               list_transform(generate_series(0, n - 1),
                              i -> (i * 257) % 65536 - 32768) AS smp
        FROM a
    )
    SELECT id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS sum_sq,
           CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
           CAST(len(list_filter(generate_series(1, n - 1),
                    i -> (smp[i] < 0) != (smp[i + 1] < 0))) AS BIGINT)
               AS n_zero_cross,
           CAST(floor(sqrt(CAST(list_sum(list_transform(smp, x -> x * x))
                    AS BIGINT) / n) * 1000) AS BIGINT) AS rms_milli
    FROM s ORDER BY media_id
"""


def q_multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 2x downsample of REAL BMP pixel arrays: Spark
    decodes stride-padded BGR rows with numpy and checksums the resized
    pixels; the oracle recomputes the identical integer from the
    generator's closed form (byte b at flat offset o is (o*7+13) mod 256,
    resized offsets o = y*stride + 3x + c over even x, y)."""
    media = multimodal.generate_real_media(spark, 300)
    return multimodal.image_resize(media, factor=2).orderBy("media_id")


QUERIES["multimodal_image_resize"] = q_multimodal_image_resize

ORACLES["multimodal_image_resize"] = """
    WITH ids AS (SELECT unnest(range(0, 300)) AS id),
    dims AS (
        SELECT id, (id % 31 + 1) * 4 AS w, (id % 23 + 1) * 4 AS h,
               ((3 * ((id % 31 + 1) * 4) + 3) // 4) * 4 AS stride
        FROM ids WHERE id % 3 = 0
    )
    SELECT id AS media_id,
           CAST((w + 1) // 2 AS BIGINT) AS out_w,
           CAST((h + 1) // 2 AS BIGINT) AS out_h,
           CAST(list_sum(list_transform(generate_series(0, h - 1, 2), y ->
               list_sum(list_transform(generate_series(0, w - 1, 2), x ->
                   ((y * stride + 3 * x) * 7 + 13) % 256
                   + ((y * stride + 3 * x + 1) * 7 + 13) % 256
                   + ((y * stride + 3 * x + 2) * 7 + 13) % 256))))
               AS BIGINT) AS pix_sum
    FROM dims ORDER BY media_id
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd's assignment step: the first 8 embeddings act
    as fixed deterministic centroids (broadcast — k × dim doubles), every
    vector computes exact squared-L2 to each as a Catalyst fold and keeps
    the nearest, ties to the smaller centroid id. The corpus scan never
    shuffles for the assignment itself (clustering-based data selection
    at 100 TB)."""
    emb = _embeddings(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = similarity.kmeans_assign_step(emb, cents, "vec_id", "embedding")
    return out.select(
        "vec_id", "cluster_id", F.round("dist2", 6).alias("dist2_r")
    ).orderBy("vec_id")


QUERIES["kmeans_assign"] = q_kmeans_assign

# Same left-fold accumulation order as Spark's F.aggregate (0.0 + d1 + d2
# ... == d1 + d2 ... exactly in IEEE), same (dist2, cluster_id) tie-break.
ORACLES["kmeans_assign"] = """
    WITH c AS (SELECT vec_id AS cluster_id, embedding FROM embeddings
               WHERE vec_id < 8),
    d AS (
        SELECT v.vec_id, c.cluster_id,
               list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                        * (CAST(v.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE))),
                   (x, y) -> x + y) AS dist2
        FROM embeddings v CROSS JOIN c
    ),
    ranked AS (
        SELECT vec_id, cluster_id, dist2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2 ASC, cluster_id ASC) AS rk
        FROM d
    )
    SELECT vec_id, cluster_id, round(dist2, 6) AS dist2_r
    FROM ranked WHERE rk = 1 ORDER BY vec_id
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText quality rules per document: word-count bounds,
    mean-word-length band, alphabetic ratio, stopword hits, bullet and
    ellipsis line ratios + composite pass flag — all exact integer counts
    or IEEE ratios of them, shuffle-free linear scan."""
    out = text.gopher_quality(
        _documents(spark, sf_dir).select("doc_id", "text"), "text"
    )
    return out.select(
        "doc_id",
        "g_words",
        "g_mean_word_len",
        "g_alpha_ratio",
        "g_stop_hits",
        "g_bullet_ratio",
        "g_ellipsis_ratio",
        "g_pass",
    ).orderBy("doc_id")


QUERIES["gopher_quality"] = q_gopher_quality

# Ratios are divisions of exact integer counts — bit-identical doubles on
# both engines, no rounding needed. Stopword list = text.GOPHER_STOPWORDS.
ORACLES["gopher_quality"] = f"""
    WITH base AS (
        SELECT doc_id,
               string_split({_NORM}, ' ') AS ws,
               length(replace({_NORM}, ' ', '')) AS nc_nospace,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(ws) AS nw,
               nc_nospace,
               len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                   AS alpha_w,
               len(list_filter(ws, w -> list_contains(
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
                   w))) AS stop_hits,
               len(lines) AS nl,
               len(list_filter(lines,
                   ln -> regexp_matches(trim(ln), '^[-*•]'))) AS bullet_l,
               len(list_filter(lines,
                   ln -> regexp_matches(rtrim(ln), '[.]{{3}}$')))
                   AS ellipsis_l
        FROM base
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS g_words,
           nc_nospace / CAST(nw AS DOUBLE) AS g_mean_word_len,
           alpha_w / CAST(nw AS DOUBLE) AS g_alpha_ratio,
           CAST(stop_hits AS BIGINT) AS g_stop_hits,
           bullet_l / CAST(nl AS DOUBLE) AS g_bullet_ratio,
           ellipsis_l / CAST(nl AS DOUBLE) AS g_ellipsis_ratio,
           (nw >= 50 AND nw <= 100000
            AND nc_nospace / CAST(nw AS DOUBLE) >= 3.0
            AND nc_nospace / CAST(nw AS DOUBLE) <= 10.0
            AND alpha_w / CAST(nw AS DOUBLE) > 0.8
            AND stop_hits >= 2
            AND bullet_l / CAST(nl AS DOUBLE) <= 0.9
            AND ellipsis_l / CAST(nl AS DOUBLE) <= 0.3) AS g_pass
    FROM m ORDER BY doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: 600-char windows, 150-char overlap (stride 450),
    min one chunk per document — explode(sequence(...)) over a per-row
    chunk count, pure Catalyst, embarrassingly parallel per document."""
    out = text.chunk_documents(
        _documents(spark, sf_dir), "text", ["doc_id"],
        chunk_size=600, overlap=150,
    )
    return out.orderBy("doc_id", "chunk_id")


QUERIES["chunk_documents"] = q_chunk_documents

# n_chunks = max(1, floor((len - overlap + stride-1) / stride)) — the same
# double division + floor as the Spark expression; substr is 1-based on
# both engines.
ORACLES["chunk_documents"] = """
    WITH n AS (
        SELECT doc_id, text,
               greatest(1, CAST(floor((length(text) - 150 + 449) / 450.0)
                                AS BIGINT)) AS n_chunks
        FROM documents
    ),
    idx AS (
        SELECT doc_id, text,
               unnest(generate_series(0, CAST(n_chunks - 1 AS INT)))
                   AS chunk_id
        FROM n
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 450 AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_id * 450 + 1 AS INT), 600) AS chunk_text,
           CAST(length(substr(text, CAST(chunk_id * 450 + 1 AS INT), 600))
                AS BIGINT) AS chunk_len
    FROM idx ORDER BY doc_id, chunk_id
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 bigrams by (occurrences desc, bigram asc) with
    exact document frequency — one explode + one groupBy shuffle; the
    per-document bigrams come from ``functions.ngrams``, the primitive
    that builds MinHash shingles."""
    return text.top_ngrams(
        _documents(spark, sf_dir), "text", "doc_id", n_top=50
    )


QUERIES["top_ngrams"] = q_top_ngrams

# Tokenization contract: lowercase, strip non-[a-z] per whitespace token,
# drop empties; adjacent-pair bigrams; (count desc, bigram asc) is a total
# order so the LIMIT boundary is deterministic.
ORACLES["top_ngrams"] = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(list_transform(
                   regexp_split_to_array(lower(trim(text)), '\s+'),
                   w -> regexp_replace(w, '[^a-z]', '', 'g')),
                   w -> w <> '') AS tk
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(CASE WHEN len(tk) >= 2 THEN list_transform(
                   generate_series(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM bg GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram LIMIT 50
"""


def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One FULL Lloyd iteration: assign every embedding to its nearest of
    8 fixed centroids (broadcast, fold squared-L2), then recompute each
    centroid as the exact element-wise cluster mean. Output in long
    (cluster_id, dim, mu) format — the array never has to hash-compare.
    The mean is a decimal-routed sum / count, so it is order-independent;
    the only shuffle is k x dim partial-aggregate cells per map task."""
    emb = _embeddings(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = similarity.kmeans_assign_step(emb, cents, "vec_id", "embedding")
    upd = similarity.kmeans_update_step(
        assigned, vec_col="v", cluster_col="cluster_id", dim=64
    )
    return (
        upd.select("cluster_id", "n", F.posexplode("centroid").alias("dim", "mu"))
        .select(
            "cluster_id",
            "n",
            F.col("dim").cast("bigint").alias("dim"),
            F.round("mu", 6).alias("mu_r"),
        )
        .orderBy("cluster_id", "dim")
    )


QUERIES["kmeans_update"] = q_kmeans_update

# Same assignment CTEs as kmeans_assign; the mean routes each element
# through DECIMAL(28,15) (exact, order-independent) before the double
# division, mirroring the Spark operator bit-for-bit.
ORACLES["kmeans_update"] = """
    WITH c AS (SELECT vec_id AS cluster_id, embedding FROM embeddings
               WHERE vec_id < 8),
    d AS (
        SELECT v.vec_id, c.cluster_id, v.embedding,
               list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                        * (CAST(v.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE))),
                   (x, y) -> x + y) AS dist2
        FROM embeddings v CROSS JOIN c
    ),
    w AS (
        SELECT vec_id, cluster_id, embedding FROM (
            SELECT vec_id, cluster_id, embedding,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist2 ASC, cluster_id ASC)
                       AS rk
            FROM d
        ) WHERE rk = 1
    ),
    ex AS (
        SELECT cluster_id, unnest(generate_series(1, 64)) AS i, embedding
        FROM w
    ),
    sums AS (
        SELECT cluster_id, i, COUNT(*) AS n,
               CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                             AS DECIMAL(28,15))) AS DOUBLE) AS s
        FROM ex GROUP BY cluster_id, i
    )
    SELECT cluster_id, n, CAST(i - 1 AS BIGINT) AS dim,
           round(s / n, 6) AS mu_r
    FROM sums ORDER BY cluster_id, dim
"""


def q_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd iterations composed end-to-end (assign → update →
    re-assign against the UPDATED centroids → update), proving the two
    green halves actually close the loop — the same composition gap
    pagerank closed for graph iteration. Centroids localCheckpoint
    between rounds (k rows), so round 2 broadcasts data, not lineage.
    Output long (cluster_id, dim, mu) like kmeans_update."""
    emb = _embeddings(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    upd = similarity.kmeans_iterate(
        emb, cents, "vec_id", "embedding", iterations=2, dim=64
    )
    return (
        upd.select("cluster_id", "n", F.posexplode("centroid").alias("dim", "mu"))
        .select(
            "cluster_id",
            "n",
            F.col("dim").cast("bigint").alias("dim"),
            F.round("mu", 6).alias("mu_r"),
        )
        .orderBy("cluster_id", "dim")
    )


QUERIES["kmeans_iterate"] = q_kmeans_iterate

# Iteration 1 = the kmeans_update oracle verbatim (unrounded means);
# iteration 2 re-runs the same assignment/update against those means.
# list(mu ORDER BY i) rebuilds each centroid in dimension order so the
# round-2 distance fold runs in the same sequential order as Spark's
# zip_with/aggregate (0.0 + d1 + d2 ... is IEEE-exact vs d1 + d2 ...).
ORACLES["kmeans_iterate"] = """
    WITH c0 AS (SELECT vec_id AS cluster_id, embedding FROM embeddings
                WHERE vec_id < 8),
    d1 AS (
        SELECT v.vec_id, c.cluster_id, v.embedding,
               list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                        * (CAST(v.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE))),
                   (x, y) -> x + y) AS dist2
        FROM embeddings v CROSS JOIN c0 c
    ),
    w1 AS (
        SELECT vec_id, cluster_id, embedding FROM (
            SELECT vec_id, cluster_id, embedding,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist2 ASC, cluster_id ASC)
                       AS rk
            FROM d1
        ) WHERE rk = 1
    ),
    ex1 AS (
        SELECT cluster_id, unnest(generate_series(1, 64)) AS i, embedding
        FROM w1
    ),
    cent1 AS (
        SELECT cluster_id, i,
               CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                             AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*) AS mu
        FROM ex1 GROUP BY cluster_id, i
    ),
    c1 AS (
        SELECT cluster_id, list(mu ORDER BY i) AS cv
        FROM cent1 GROUP BY cluster_id
    ),
    d2 AS (
        SELECT v.vec_id, c.cluster_id, v.embedding,
               list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE) - c.cv[i])
                        * (CAST(v.embedding[i] AS DOUBLE) - c.cv[i])),
                   (x, y) -> x + y) AS dist2
        FROM embeddings v CROSS JOIN c1 c
    ),
    w2 AS (
        SELECT vec_id, cluster_id, embedding FROM (
            SELECT vec_id, cluster_id, embedding,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist2 ASC, cluster_id ASC)
                       AS rk
            FROM d2
        ) WHERE rk = 1
    ),
    ex2 AS (
        SELECT cluster_id, unnest(generate_series(1, 64)) AS i, embedding
        FROM w2
    ),
    sums2 AS (
        SELECT cluster_id, i, COUNT(*) AS n,
               CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                             AS DECIMAL(28,15))) AS DOUBLE) AS s
        FROM ex2 GROUP BY cluster_id, i
    )
    SELECT cluster_id, n, CAST(i - 1 AS BIGINT) AS dim,
           round(s / n, 6) AS mu_r
    FROM sums2 ORDER BY cluster_id, dim
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: k-means assignment to 8 fixed
    centroids (broadcast), then exact cosine pairs ONLY within each
    cluster — duplicates keep their smallest-id neighbor. The quadratic
    is confined to Σ cluster² (cluster-partitioned, cappable) instead of
    n² — the curation trick that makes embedding dedup tractable at
    corpus scale (Abbas et al. 2023)."""
    emb = _embeddings(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = dedup.dedup_semantic(
        emb, cents, "vec_id", "embedding", threshold=0.45
    )
    return out.orderBy("vec_id")


QUERIES["dedup_semantic"] = q_dedup_semantic

# Assignment CTEs = the kmeans_assign oracle; pair cosine = the
# dedup_embedding _DOT fold, restricted to same-cluster pairs.
ORACLES["dedup_semantic"] = f"""
    WITH c AS (SELECT vec_id AS cluster_id, embedding FROM embeddings
               WHERE vec_id < 8),
    d AS (
        SELECT v.vec_id, c.cluster_id, v.embedding,
               list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                        * (CAST(v.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE))),
                   (x, y) -> x + y) AS dist2
        FROM embeddings v CROSS JOIN c
    ),
    w AS (
        SELECT vec_id, cluster_id, embedding FROM (
            SELECT vec_id, cluster_id, embedding,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist2 ASC, cluster_id ASC)
                       AS rk
            FROM d
        ) WHERE rk = 1
    )
    SELECT b.vec_id AS vec_id, b.cluster_id, MIN(a.vec_id) AS dup_of
    FROM w a JOIN w b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE {_DOT} >= 0.45
    GROUP BY b.vec_id, b.cluster_id
    ORDER BY vec_id
"""


def q_dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-global line dedup on the documents table: any
    trimmed+lowercased line occurring in >1 document survives only at
    its lexicographically-first (doc, position); whitespace-only lines
    are exempt. Exact-duplicate single-line documents therefore collapse
    to one surviving copy — the strongest boilerplate cut before LLM
    training (Raffel et al. 2020 §2.2)."""
    out = dedup.dedup_lines_global(
        _documents(spark, sf_dir), "doc_id", "text", max_doc_freq=1
    )
    return out.orderBy("doc_id")


QUERIES["dedup_lines_global"] = q_dedup_lines_global

# Same integer winner encoding (doc*2^20+pos); string_agg skips the
# removed (NULL) lines exactly as collect_list skips nulls; COALESCE
# covers the all-lines-removed document (Spark's array_join gives '').
ORACLES["dedup_lines_global"] = """
    WITH ex AS (
        SELECT doc_id AS d, string_split(text, chr(10)) AS ls FROM documents
    ),
    lines AS (
        SELECT d, i - 1 AS pos, ls[i] AS line,
               lower(trim(ls[i])) AS key,
               d * 1048576 + (i - 1) AS enc
        FROM (SELECT d, ls, unnest(generate_series(1, len(ls))) AS i FROM ex)
    ),
    stats AS (
        SELECT key, MIN(enc) AS winner
        FROM lines WHERE key <> '' GROUP BY key
        HAVING COUNT(DISTINCT d) > 1
    ),
    kept AS (
        SELECT l.d, l.pos, l.line,
               (s.key IS NULL OR l.enc = s.winner) AS keep
        FROM lines l LEFT JOIN stats s ON l.key = s.key
    )
    SELECT d AS doc_id,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lines_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_lines_removed,
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY pos), '') AS text_clean
    FROM kept GROUP BY d ORDER BY doc_id
"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted reservoir sample: 25
    documents with inclusion probability scaling with n_chars (longer
    docs more likely), selection = top-k smallest -ln(u)/w keys with the
    stable md5 hash as u. One scan, no shuffle, per-partition top-k
    heaps (TakeOrderedAndProject) — the weighted corpus subsample every
    data-mixing recipe needs."""
    from ..operators import sampling

    out = sampling.weighted_sample(
        _documents(spark, sf_dir), "doc_id", "n_chars", k=25
    )
    return out.select("doc_id", "n_chars", "samp_key_r").orderBy("doc_id")


QUERIES["sample_weighted"] = q_sample_weighted

# Identical hash -> u -> -ln(u)/w pipeline; all arithmetic in explicit
# DOUBLE (DuckDB decimal literals would otherwise change the division).
ORACLES["sample_weighted"] = """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               round(
                   -ln((CAST(concat('0x', substr(md5('ws:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 999983 + 1) / CAST(999984.0 AS DOUBLE))
                   / CAST(n_chars AS DOUBLE), 9) AS samp_key_r
        FROM documents
    ),
    topk AS (
        SELECT doc_id, n_chars, samp_key_r FROM keyed
        ORDER BY samp_key_r ASC, doc_id ASC LIMIT 25
    )
    SELECT doc_id, n_chars, samp_key_r FROM topk ORDER BY doc_id
"""


def q_pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture subsample report: weights 0.4/0.3/0.2/0.1 over
    sources src0-src3 (all other sources weight 0 → excluded) within a
    token budget of 20% of the corpus. Each source keeps documents via a
    deterministic hash-Bernoulli at fraction min(1, desired/available) —
    heavy weights saturate at keep-everything (keep_frac_r = 1) instead
    of upweighting. Output is the per-source mixture report: docs kept,
    tokens kept, and the keep fraction that produced them."""
    from ..functions import words
    from ..operators import sampling

    docs = _documents(spark, sf_dir)
    kept = sampling.mixture_sample(
        docs,
        "doc_id",
        "source",
        token_count=F.size(words(F.col("text"))),
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        budget_frac=0.2,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(F.size(words(F.col("text")))).cast("bigint").alias(
                "tokens_kept"
            ),
            F.max("keep_frac_r").alias("keep_frac_r"),
        )
        .orderBy("source")
    )


QUERIES["pipeline_mixture_sample"] = q_pipeline_mixture_sample

# Same normalization (_NORM) for token counts, same md5 hash -> u, same
# min(1, weight * budget * total / source_tokens) fraction, all double
# arithmetic made explicit so DuckDB decimal literals can't change it.
ORACLES["pipeline_mixture_sample"] = f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(string_split({_NORM}, ' ')) AS n_tok,
               (CAST(concat('0x', substr(md5('mix:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 999983 + 1) / CAST(999984.0 AS DOUBLE) AS u
        FROM documents
    ),
    per_src AS (
        SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
        FROM toks GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total FROM per_src),
    fr AS (
        SELECT source,
               least(CAST(1.0 AS DOUBLE),
                     CASE source
                         WHEN 'src0' THEN CAST(0.4 AS DOUBLE)
                         WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
                         WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
                         WHEN 'src3' THEN CAST(0.1 AS DOUBLE)
                     END
                     * CAST(0.2 AS DOUBLE) * total / src_tokens)
                   AS keep_frac
        FROM per_src, tot
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
    )
    SELECT t.source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept,
           round(MAX(fr.keep_frac), 9) AS keep_frac_r
    FROM toks t JOIN fr ON t.source = fr.source
    WHERE t.u < fr.keep_frac
    GROUP BY t.source ORDER BY t.source
"""


def q_pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split with a near-dup leakage audit — the check every
    training pipeline should run and most don't: a deterministic 90/10
    hash split of the corpus, then every MinHash-LSH near-dup pair (the
    same bands/threshold as `dedup_minhash_lsh`) is checked for spanning
    the split. A pair with one side in train and one in eval means the
    eval set leaks training content. One-row report: split sizes, dup
    pairs, leaking pairs. Scale: the split is a per-row hash expression;
    the audit reuses the bucketed (never all-pairs) LSH pair set with two
    broadcast-sized joins onto the tiny split table."""
    from ..functions import stable_hash60

    docs = _documents(spark, sf_dir)
    u = (
        F.pmod(
            stable_hash60(
                F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
            ),
            F.lit(999983),
        )
        + 1
    ) / F.lit(999984.0)
    split = docs.select(
        "doc_id",
        F.when(u < F.lit(0.9), F.lit("train")).otherwise(F.lit("eval")).alias(
            "sp"
        ),
    )
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=3, threshold=0.5,
    )
    pa = split.select(F.col("doc_id").alias("id_a"), F.col("sp").alias("sp_a"))
    pb = split.select(F.col("doc_id").alias("id_b"), F.col("sp").alias("sp_b"))
    j = pairs.join(pa, "id_a").join(pb, "id_b")
    totals = split.agg(
        F.sum(F.when(F.col("sp") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("sp") == "eval", 1).otherwise(0))
        .cast("bigint")
        .alias("n_eval"),
    )
    leak = j.agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.sum(F.when(F.col("sp_a") != F.col("sp_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaking_pairs"),
    )
    return totals.crossJoin(F.broadcast(leak))


QUERIES["pipeline_split_leakage"] = q_pipeline_split_leakage


def _split_leakage_oracle() -> str:
    nh, bands = 16, 4
    rpb = nh // bands
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS key FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    eq_sum = " + ".join(
        f"CAST((sa.mh{i} = sb.mh{i}) AS INT)" for i in range(nh)
    )
    return f"""
        WITH {_shingle_cte(3)},
        {_minhash_sig_sql(nh)},
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b FROM cand
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
            WHERE ({eq_sum}) / 16.0 >= 0.5
        ),
        split AS (
            SELECT doc_id,
                   CASE WHEN (CAST(concat('0x', substr(md5('split:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                            % 999983 + 1) / CAST(999984.0 AS DOUBLE)
                            < CAST(0.9 AS DOUBLE)
                        THEN 'train' ELSE 'eval' END AS sp
            FROM documents
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM split
             WHERE sp = 'train') AS n_train,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM split
             WHERE sp = 'eval') AS n_eval,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_dup_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
             JOIN split a ON pairs.id_a = a.doc_id
             JOIN split b ON pairs.id_b = b.doc_id
             WHERE a.sp <> b.sp) AS n_leaking_pairs
    """


ORACLES["pipeline_split_leakage"] = _split_leakage_oracle()


def q_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the exact cosine
    ranking and the sign-LSH bucketed ranking each contribute
    1/(60+rank) per (query, candidate); candidates surfaced by both
    lists outrank either alone (RRF, Cormack et al. 2009 — the standard
    fusion for lexical+vector hybrid search). Top-5 fused per query,
    ties by candidate id. Scale: both input rankings are the existing
    gate-proven operators (broadcast queries / bucketed candidates); the
    fusion itself is one groupBy over ≤ 2×k×|queries| tiny rows."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=20
    ).select("query_id", "corpus_id", "rnk")
    lsh = similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=20
    ).select("query_id", "corpus_id", "rnk")
    fused = (
        exact.unionByName(lsh)
        .groupBy("query_id", "corpus_id")
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(60) + F.col("rnk"))), 9
            ).alias("rrf_r"),
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_r").desc(), F.col("corpus_id").asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "corpus_id", "rrf_r", "n_lists", "rnk")
        .orderBy("query_id", "rnk")
    )


QUERIES["sim_rrf_fusion"] = q_sim_rrf_fusion

ORACLES["sim_rrf_fusion"] = f"""
    WITH scored_ex AS (
        SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
               round({_DOT}, 6) AS cosine_r
        FROM embeddings a JOIN embeddings b
          ON b.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    top_ex AS (
        SELECT query_id, corpus_id, rnk FROM (
            SELECT query_id, corpus_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_r DESC, corpus_id ASC) AS rnk
            FROM scored_ex
        ) WHERE rnk <= 20
    ),
    bucketed AS (
        SELECT vec_id, embedding,
               {' + '.join(f'CASE WHEN embedding[{d + 1}] >= 0 THEN {2**i} ELSE 0 END' for i, d in enumerate(similarity.DEFAULT_BUCKET_DIMS))} AS bucket
        FROM embeddings
    ),
    scored_lsh AS (
        SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
               round({_DOT}, 6) AS cosine_r
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND b.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    top_lsh AS (
        SELECT query_id, corpus_id, rnk FROM (
            SELECT query_id, corpus_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_r DESC, corpus_id ASC) AS rnk
            FROM scored_lsh
        ) WHERE rnk <= 20
    ),
    unioned AS (
        SELECT * FROM top_ex UNION ALL SELECT * FROM top_lsh
    ),
    fused AS (
        SELECT query_id, corpus_id,
               round(SUM(CAST(1.0 AS DOUBLE) / (60 + rnk)), 9) AS rrf_r,
               CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM unioned GROUP BY query_id, corpus_id
    )
    SELECT query_id, corpus_id, rrf_r, n_lists, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf_r DESC, corpus_id ASC) AS rnk
        FROM fused
    ) WHERE rnk <= 5 ORDER BY query_id, rnk
"""


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {data, spark, query} over the documents
    corpus — the lexical half of hybrid search (sim_rrf_fusion is the
    fusion; tfidf the per-doc keyword view). Deterministic: exact
    tf/df/dl, IEEE log/division, decimal-routed per-doc sum."""
    out = text.bm25_topk(
        _documents(spark, sf_dir).select("doc_id", "text"),
        "doc_id",
        "text",
        query_terms=["data", "spark", "query"],
        k=10,
    )
    return out.orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())


QUERIES["text_bm25"] = q_text_bm25

# Same normalization, same +1-variant idf, same decimal-routed sum; the
# 0.5/1.0/k1/b constants are double literals on both engines.
ORACLES["text_bm25"] = f"""
    WITH w AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(ws)) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                   AS avgdl
        FROM w
    ),
    tf AS (
        SELECT doc_id, len(ws) AS dl, term, COUNT(*) AS tf
        FROM (
            SELECT doc_id, ws, unnest(list_filter(ws,
                x -> list_contains(['data', 'spark', 'query'], x))) AS term
            FROM w
        )
        GROUP BY doc_id, len(ws), term
    ),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               ln((n_docs - df_t + CAST(0.5 AS DOUBLE))
                  / (df_t + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
               * (tf * CAST(2.2 AS DOUBLE))
               / (tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl / avgdl)) AS s
        FROM tf JOIN dft USING (term) CROSS JOIN stats
    )
    SELECT doc_id,
           round(CAST(SUM(CAST(s AS DECIMAL(28,15))) AS DOUBLE), 6)
               AS bm25_r,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY bm25_r DESC, doc_id ASC LIMIT 10
"""


def q_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row — the corpus summary a training-data
    release ships: document/source/language counts, exact token total,
    exact-duplicate count (normalized text), and the source-distribution
    entropy in nats (how evenly the corpus draws from its sources).
    Everything is one scan plus a 20-row per-source aggregate; the
    entropy terms route through DECIMAL(28,15) so the sum is
    merge-order-independent."""
    from ..functions import normalize_text, words

    docs = _documents(spark, sf_dir)
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(words(F.col("text"))).cast("long"))
        .cast("bigint")
        .alias("total_tokens"),
        (
            F.count(F.lit(1)) - F.countDistinct(normalize_text(F.col("text")))
        )
        .cast("bigint")
        .alias("n_exact_dup_docs"),
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c") / F.col("n")
    ent = (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum((p * F.log(p)).cast("decimal(28,15)")).cast("double"),
                9,
            ).alias("source_entropy_r")
        )
    )
    return base.crossJoin(F.broadcast(ent))


QUERIES["pipeline_dataset_card"] = q_pipeline_dataset_card

ORACLES["pipeline_dataset_card"] = f"""
    WITH base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT)
                   AS total_tokens,
               CAST(COUNT(*) - COUNT(DISTINCT {_NORM}) AS BIGINT)
                   AS n_exact_dup_docs
        FROM documents
    ),
    sc AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sc),
    ent AS (
        SELECT round(CAST(-SUM(CAST(
                   (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))
               AS DECIMAL(28,15))) AS DOUBLE), 9) AS source_entropy_r
        FROM sc, tot
    )
    SELECT n_docs, n_sources, n_langs, total_tokens, n_exact_dup_docs,
           source_entropy_r
    FROM base, ent
"""


def q_text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level term co-occurrence
    — the collocation statistic behind phrase mining: PMI(a,b) =
    ln(c_ab·N / (c_a·c_b)) over distinct-per-document terms, with a
    document-frequency band (2%..78% of N) playing the blocker: without
    it the per-document pair explosion is quadratic in vocabulary, with
    it the pair space is bounded by the informative mid-band. All counts
    exact integers; the log argument is a double ratio of exact int
    products, so PMI is bit-identical across engines. Top-15 by support
    then pair."""
    from ..functions import words

    docs = _documents(spark, sf_dir)
    dt = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(words(F.col("text")))).alias("term")
        )
        .where(F.col("term") != "")
        .distinct()
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    df_t = (
        dt.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("c_t"))
        .crossJoin(F.broadcast(n_docs))
        .where(
            (F.col("c_t") >= 0.02 * F.col("n"))
            & (F.col("c_t") <= 0.78 * F.col("n"))
        )
        .select("term", "c_t")
    )
    banded = dt.join(F.broadcast(df_t), "term")
    a = banded.select(
        F.col("doc_id"), F.col("term").alias("term_a"), F.col("c_t").alias("c_a")
    )
    b = banded.select(
        F.col("doc_id"), F.col("term").alias("term_b"), F.col("c_t").alias("c_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "c_a", "c_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n"))
                    / (F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi_r"),
        )
    )
    return pairs.orderBy(
        F.col("c_ab").desc(), F.col("term_a").asc(), F.col("term_b").asc()
    ).limit(15)


QUERIES["text_pmi_pairs"] = q_text_pmi_pairs

ORACLES["text_pmi_pairs"] = f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(list_distinct(string_split({_NORM}, ' '))) AS term
            FROM documents
        ) WHERE term <> ''
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    dft AS (
        SELECT term, COUNT(DISTINCT doc_id) AS c_t FROM dt GROUP BY term
    ),
    band AS (
        SELECT term, c_t FROM dft, nd
        WHERE c_t >= CAST(0.02 AS DOUBLE) * n
          AND c_t <= CAST(0.78 AS DOUBLE) * n
    ),
    bd AS (SELECT dt.doc_id, dt.term, band.c_t FROM dt JOIN band USING (term)),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, a.c_t AS c_a,
               b.c_t AS c_b, COUNT(*) AS c_ab
        FROM bd a JOIN bd b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2, 3, 4
    )
    SELECT term_a, term_b, CAST(c_ab AS BIGINT) AS c_ab,
           round(ln((c_ab * n) / CAST(c_a * c_b AS DOUBLE)), 6) AS pmi_r
    FROM pairs, nd
    ORDER BY c_ab DESC, term_a ASC, term_b ASC LIMIT 15
"""


def q_pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling (alpha = 0.7, budget 30% of
    corpus tokens): per-source weights are COMPUTED as tokens^alpha /
    sum(tokens^alpha) — the multilingual standard that upsamples small
    sources — then the same deterministic hash-Bernoulli keep as
    pipeline_mixture_sample (operators/sampling.temperature_mixture_
    sample). Per-source mixture report: docs kept, tokens kept, the
    computed weight, and the keep fraction."""
    from ..functions import words
    from ..operators import sampling

    docs = _documents(spark, sf_dir)
    kept = sampling.temperature_mixture_sample(
        docs,
        "doc_id",
        "source",
        token_count=F.size(words(F.col("text"))),
        alpha=0.7,
        budget_frac=0.3,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(F.size(words(F.col("text")))).cast("bigint").alias(
                "tokens_kept"
            ),
            F.max("weight_r").alias("weight_r"),
            F.max("keep_frac_r").alias("keep_frac_r"),
        )
        .orderBy("source")
    )


QUERIES["pipeline_temperature_mix"] = q_pipeline_temperature_mix

# Same _NORM tokenization, same md5 -> u hash family; the weights come
# from pow(src_tokens, 0.7) normalized over all sources, everything in
# explicit DOUBLE so both engines compute the identical keep fraction.
ORACLES["pipeline_temperature_mix"] = f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(string_split({_NORM}, ' ')) AS n_tok,
               (CAST(concat('0x', substr(md5('tmix:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 999983 + 1) / CAST(999984.0 AS DOUBLE) AS u
        FROM documents
    ),
    per_src AS (
        SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
               pow(CAST(SUM(n_tok) AS DOUBLE), CAST(0.7 AS DOUBLE)) AS pw
        FROM toks GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(src_tokens) AS BIGINT) AS total,
               SUM(pw) AS pw_sum
        FROM per_src
    ),
    fr AS (
        SELECT source, pw / pw_sum AS w,
               CASE WHEN src_tokens > 0 THEN
                   least(CAST(1.0 AS DOUBLE),
                         (pw / pw_sum) * CAST(0.3 AS DOUBLE)
                         * total / src_tokens)
               ELSE CAST(0.0 AS DOUBLE) END AS keep_frac
        FROM per_src, tot
    )
    SELECT t.source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept,
           round(MAX(fr.w), 9) AS weight_r,
           round(MAX(fr.keep_frac), 9) AS keep_frac_r
    FROM toks t JOIN fr ON t.source = fr.source
    WHERE t.u < fr.keep_frac
    GROUP BY t.source ORDER BY t.source
"""


def q_embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise label-centroid cosine over the embedding corpus
    (operators/similarity.centroid_drift_report) — the class-separation
    / domain-drift screen: the corpus reduces ONCE to per-label
    decimal-exact centroids (k x dim partial-aggregate cells, the
    kmeans_update shuffle shape); the pairwise report runs on the tiny
    centroid table."""
    emb = _embeddings(spark, sf_dir)
    return similarity.centroid_drift_report(
        emb.where(F.col("label") < 6), "label", "embedding", dim=64
    )


QUERIES["embedding_label_drift"] = q_embedding_label_drift

# Centroids mirror kmeans_update's decimal routing; the cosine folds the
# 64 fixed-order products in DOUBLE exactly like the Spark aggregate.
ORACLES["embedding_label_drift"] = """
    WITH ex AS (
        SELECT label, unnest(generate_series(1, 64)) AS i, embedding
        FROM embeddings WHERE label < 6
    ),
    sums AS (
        SELECT label, i, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                             AS DECIMAL(28,15))) AS DOUBLE) AS s
        FROM ex GROUP BY label, i
    ),
    cent AS (
        SELECT label, n, list(s / n ORDER BY i) AS c
        FROM sums GROUP BY label, n
    )
    SELECT a.label AS group_a, b.label AS group_b,
           a.n AS n_a, b.n AS n_b,
           round(
               list_reduce(list_transform(generate_series(1, 64),
                   i -> a.c[i] * b.c[i]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> a.c[i] * a.c[i]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(generate_series(1, 64),
                         i -> b.c[i] * b.c[i]), (x, y) -> x + y))),
               6) AS cos_r
    FROM cent a JOIN cent b ON a.label < b.label
    ORDER BY group_a, group_b
"""


def q_dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dup screen (operators/dedup.
    minhash_lsh_ingest_pairs): an incoming batch (every 10th doc) probes
    the EXISTING corpus through the same MinHash-LSH banding as
    dedup_minhash_lsh — the production ingest shape: new data dedups
    against a 100 TB corpus without re-pairing the corpus with itself.
    One asymmetric bucket join; signatures are per-doc functions, so
    the oracle computes them once and filters membership."""
    docs = _documents(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    incoming = docs.where(F.col("doc_id") % 10 == 0)
    return dedup.minhash_lsh_ingest_pairs(
        corpus,
        incoming,
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_k=3,
        threshold=0.5,
    ).orderBy("corpus_id", "new_id")


QUERIES["dedup_incremental_ingest"] = q_dedup_incremental_ingest


def _minhash_ingest_oracle() -> str:
    nh, bands = 16, 4
    rpb = nh // bands
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS key FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    eq_sum = " + ".join(
        f"CAST((sa.mh{i} = sb.mh{i}) AS INT)" for i in range(nh)
    )
    return f"""
        WITH {_shingle_cte(3)},
        {_minhash_sig_sql(nh)},
        bands AS ({band_selects}),
        bc AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
        bn AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
        cand AS (
            SELECT DISTINCT c.doc_id AS corpus_id, n.doc_id AS new_id
            FROM bc c JOIN bn n ON c.band = n.band AND c.key = n.key
        )
        SELECT corpus_id, new_id, ({eq_sum}) / 16.0 AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = corpus_id
        JOIN sig sb ON sb.doc_id = new_id
        WHERE ({eq_sum}) / 16.0 >= 0.5
        ORDER BY corpus_id, new_id
    """


ORACLES["dedup_incremental_ingest"] = _minhash_ingest_oracle()


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment dedup (operators/text.containment_pairs):
    docs whose winnowing fingerprints are >= 80% contained in another
    doc's — catches prefix/quote/subset duplicates symmetric Jaccard
    misses. Candidates ride an inverted fingerprint index with a
    hot-fingerprint cap (df > 50 dropped before pairing; the
    denominator stays each doc's FULL fingerprint count, so the
    documented recall loss is a doc that leans on boilerplate)."""
    # 1-in-3 doc sample keeps the gate fast (the fingerprint stage is
    # the repo's heaviest per-row expression); repartition spreads it
    # across cores exactly like q_text_winnow documents.
    docs = _documents(spark, sf_dir).where(
        F.col("doc_id") % 3 == 0
    ).repartition(32)
    return text.containment_pairs(
        docs, "doc_id", "text", shingle_k=4, window=4,
        threshold=0.8, max_fp_freq=50,
    ).orderBy("contained_id", "container_id")


QUERIES["dedup_containment"] = q_dedup_containment

# Same winnow CTEs as text_winnow (k=4, window=4), then the inverted-
# index pairing with the df>50 hot-fingerprint drop mirrored; the
# containment denominator is the doc's FULL fingerprint count.
ORACLES["dedup_containment"] = f"""
    WITH docs AS (SELECT doc_id, {_NORM} AS norm FROM documents
                  WHERE doc_id % 3 = 0),
    w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM docs),
    hs AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(words) - 3, 0)),
                   i -> {_H31.format(s="array_to_string(words[i:i+3], ' ')")}
               ) AS hashes
        FROM w
    ),
    fp AS MATERIALIZED (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   generate_series(1, greatest(len(hashes) - 3, 0)),
                   i -> list_min(hashes[i:i+3])
               ))) AS fps
        FROM hs
    ),
    inv0 AS MATERIALIZED (SELECT doc_id, unnest(fps) AS f FROM fp),
    hot AS (SELECT f FROM inv0 GROUP BY f HAVING COUNT(*) > 50),
    inv AS MATERIALIZED (
        SELECT * FROM inv0 WHERE f NOT IN (SELECT f FROM hot)),
    pairs AS (
        SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM inv a JOIN inv b
          ON a.f = b.f AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(fps) AS n FROM fp WHERE len(fps) > 0)
    SELECT contained_id, container_id, shared_fps,
           round(shared_fps / CAST(n AS DOUBLE), 6) AS containment_r
    FROM pairs JOIN sz ON sz.doc_id = contained_id
    WHERE round(shared_fps / CAST(n AS DOUBLE), 6) >= 0.8
    ORDER BY contained_id, container_id
"""


def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame-sampling schedule driven by PARSED container
    metadata: decode the real MP4 atoms (duration from mvhd's 1000-unit
    timescale), then plan 4 evenly spaced sample frames per video at a
    25 fps read assumption — ts_ms = (i * duration_ms) div 4 and
    frame_no = (ts_ms * 25) div 1000, all integer arithmetic. This is
    the work manifest a cluster-scale frame extractor partitions by
    (the codec/pixel layer is the stub boundary; the schedule is real
    and rides the parsed bytes). The oracle recomputes the same
    schedule from generate_real_media's analytic duration formula, so
    a parser regression breaks the hash."""
    media = multimodal.generate_real_media(spark, 300)
    feats = multimodal.decode_media(media).where(F.col("kind") == "video")
    return (
        feats.select(
            "media_id",
            "duration_ms",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            F.expr("(frame_idx * duration_ms) div 4")
            .cast("bigint")
            .alias("ts_ms"),
            F.expr("((frame_idx * duration_ms) div 4 * 25) div 1000")
            .cast("bigint")
            .alias("frame_no"),
        )
        .orderBy("media_id", "frame_idx")
    )


QUERIES["multimodal_frame_plan"] = q_multimodal_frame_plan

ORACLES["multimodal_frame_plan"] = """
    WITH ids AS (SELECT unnest(generate_series(0, 299)) AS id),
    vids AS (
        SELECT id, (id % 60 + 1) * 500 AS dur FROM ids WHERE id % 3 = 2
    ),
    fr AS (
        SELECT id, unnest(generate_series(0, 3)) AS i, dur FROM vids
    )
    SELECT id AS media_id, CAST(i AS INTEGER) AS frame_idx,
           CAST((i * dur) // 4 AS BIGINT) AS ts_ms,
           CAST(((i * dur) // 4 * 25) // 1000 AS BIGINT) AS frame_no
    FROM fr ORDER BY media_id, frame_idx
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch readability: exact BIGINT word / sentence /
    syllable totals (operators/text.readability — per-row expression
    tree, shuffle-free) aggregated per source, then the classic reading
    ease 206.835 − 1.015·(W/S) − 84.6·(Syl/W) and the Flesch–Kincaid
    grade 0.39·(W/S) + 11.8·(Syl/W) − 15.59 evaluated once over the
    exact totals — the corpus-curation readability dial next to
    text_quality/gopher_quality."""
    docs = load_table(spark, sf_dir, "documents")
    r = text.readability(docs, "text")
    agg = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("r_words").cast("bigint").alias("words"),
        F.sum("r_sentences").cast("bigint").alias("sentences"),
        F.sum("r_syllables").cast("bigint").alias("syllables"),
    )
    wps = F.col("words").cast("double") / F.col("sentences").cast("double")
    spw = F.col("syllables").cast("double") / F.col("words").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("fre_r"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade_r"),
    ).orderBy("source")


QUERIES["text_readability"] = q_text_readability

ORACLES["text_readability"] = """
WITH w AS (
  SELECT doc_id, source,
         unnest(string_split(
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
  FROM documents
), per_word AS (
  SELECT doc_id, source,
         CASE WHEN regexp_matches(word, '[a-z]') THEN 1 ELSE 0 END AS is_w,
         CASE WHEN regexp_matches(word, '[a-z]')
              THEN GREATEST(1, len(regexp_extract_all(word, '[aeiouy]+')))
              ELSE 0 END AS syl
  FROM w
), per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(is_w) AS BIGINT) AS r_words,
         CAST(SUM(syl) AS BIGINT) AS r_syllables
  FROM per_word GROUP BY doc_id, source
), sents AS (
  SELECT doc_id,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS r_sentences
  FROM documents
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(r_words) AS BIGINT) AS words,
         CAST(SUM(r_sentences) AS BIGINT) AS sentences,
         CAST(SUM(r_syllables) AS BIGINT) AS syllables
  FROM per_doc JOIN sents USING (doc_id)
  GROUP BY source
)
SELECT source, n_docs, words, sentences, syllables,
       round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                     - 84.6 * (CAST(syllables AS DOUBLE) / words), 6)
         AS fre_r,
       round(0.39 * (CAST(words AS DOUBLE) / sentences)
             + 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59, 6)
         AS fk_grade_r
FROM agg
ORDER BY source
"""


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring audit per source
    (operators/dedup.substring_dup_spans — the fingerprint-window
    stand-in for Lee et al. 2022 suffix-array substring dedup): 40-char
    windows every 20 chars, md5 fingerprints, windows shared by >= 2
    docs merged into maximal per-doc islands. Per source: affected
    docs, merged span count, and total duplicated chars — the clip
    list a curation pass acts on."""
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.substring_dup_spans(
        docs, "doc_id", "text", window=40, stride=20
    )
    return (
        spans.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs_affected"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("span_chars").cast("bigint").alias("dup_chars"),
        )
        .orderBy("source")
    )


QUERIES["dedup_substring_spans"] = q_dedup_substring_spans

ORACLES["dedup_substring_spans"] = """
WITH wins AS MATERIALIZED (
  SELECT doc_id AS doc, t.o AS off, md5(substr(text, t.o, 40)) AS h
  FROM documents, UNNEST(generate_series(1, len(text) - 39, 20)) AS t(o)
  WHERE len(text) >= 40
), dup_h AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc) >= 2
), marked AS (
  SELECT w.doc, w.off FROM wins w JOIN dup_h USING (h)
), flagged AS (
  SELECT doc, off,
         CASE WHEN MAX(off + 40) OVER (
                PARTITION BY doc ORDER BY off
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR off > MAX(off + 40) OVER (
                PARTITION BY doc ORDER BY off
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS ni
  FROM marked
), isl AS (
  SELECT doc, off,
         SUM(ni) OVER (PARTITION BY doc ORDER BY off
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), spans AS (
  SELECT doc, island,
         CAST(MAX(off) + 40 - MIN(off) AS BIGINT) AS span_chars
  FROM isl GROUP BY doc, island
)
SELECT d.source,
       CAST(COUNT(DISTINCT s.doc) AS BIGINT) AS n_docs_affected,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(s.span_chars) AS BIGINT) AS dup_chars
FROM spans s JOIN documents d ON d.doc_id = s.doc
GROUP BY d.source
ORDER BY d.source
"""


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring per source (operators/text.
    bigram_lm_scores): train add-one-smoothed P(w2|w1) on 80% of docs,
    score the held-out 20%, and report each
    source's doc count, bigram volume, and mean NLL — the
    adjacency-aware rung of the LM-scoring ladder (unigram NLL scores
    vocabulary surprise; this scores word ORDER)."""
    docs = load_table(spark, sf_dir, "documents")
    # the synthetic source IS doc_id % 20, so a plain %5 split would
    # hold out four entire sources; div 20 first splits WITHIN sources
    split = F.expr("(doc_id div 20) % 5")
    train = docs.where(split != 0)
    held = docs.where(split == 0)
    per_doc = text.bigram_lm_scores(train, held, "doc_id", "text")
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(
                    (F.col("nll_r") * F.col("n_bigrams")).cast("decimal(28,6)")
                ).cast("double")
                / F.sum("n_bigrams").cast("double"),
                6,
            ).alias("nll_r"),
        )
        .orderBy("source")
    )


QUERIES["text_bigram_lm"] = q_text_bigram_lm

ORACLES["text_bigram_lm"] = """
WITH tok AS MATERIALIZED (
  SELECT doc_id, source,
         list_filter(string_split(
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
           x -> x <> '') AS t
  FROM documents
), tb AS MATERIALIZED (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE (doc_id // 20) % 5 <> 0 AND len(t) >= 2
), c12 AS MATERIALIZED (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM tb GROUP BY 1, 2
), c1 AS MATERIALIZED (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT CAST(COUNT(DISTINCT x.tkn) AS BIGINT) AS v
  FROM (SELECT unnest(t) AS tkn FROM tok
        WHERE (doc_id // 20) % 5 <> 0) x
), hb AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE (doc_id // 20) % 5 = 0 AND len(t) >= 2
), scored AS (
  SELECT h.doc_id,
         CAST(round(ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                       / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS logp
  FROM hb h
  LEFT JOIN c12 ON c12.w1 = h.w1 AND c12.w2 = h.w2
  LEFT JOIN c1 ON c1.w1 = h.w1
  CROSS JOIN v
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         round(-CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS nll_r
  FROM scored GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_bigrams) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(p.nll_r * p.n_bigrams AS DECIMAL(28,6)))
                  AS DOUBLE) / CAST(SUM(p.n_bigrams) AS DOUBLE), 6)
         AS nll_r
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


def q_multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based activity segmentation over REAL decoded PCM
    (operators/multimodal.audio_frame_energies): 80-sample frames with
    exact Σs² energies; a frame is ACTIVE when its energy exceeds the
    clip's lower-median frame energy, and consecutive active frames
    merge into segments (per-clip windows — bounded groups). Per clip:
    frame census, active count, segment count, and the longest run —
    the silence-trimming / diarization front end. The oracle recomputes
    every energy from the generator's closed-form sawtooth, so one
    wrong byte offset in the RIFF walk breaks the hash."""
    from pyspark.sql import Window as W

    frames = multimodal.audio_frame_energies(
        multimodal.generate_real_media(spark, 300), frame=80
    )
    # per-clip lower-median energy threshold (type-1: k = ceil(n/2));
    # clip frame counts are bounded (<= 50), so per-clip windows are safe
    byv = W.partitionBy("media_id").orderBy("energy", "frame_idx")
    n_w = W.partitionBy("media_id")
    med = (
        frames.withColumn("rk", F.row_number().over(byv))
        .withColumn("nf", F.count(F.lit(1)).over(n_w))
        .where(F.col("rk") == F.expr("(nf + 1) div 2"))
        .select("media_id", F.col("energy").alias("med_energy"))
    )
    act = frames.join(med, "media_id").select(
        "media_id",
        "frame_idx",
        (F.col("energy") > F.col("med_energy")).cast("int").alias("a"),
    )
    byf = W.partitionBy("media_id").orderBy("frame_idx")
    seg = (
        act.withColumn("prev_a", F.lag("a", 1, 0).over(byf))
        .withColumn(
            "start", ((F.col("a") == 1) & (F.col("prev_a") == 0)).cast("int")
        )
        .withColumn(
            "seg_id",
            F.sum("start").over(byf.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    runs = (
        seg.where(F.col("a") == 1)
        .groupBy("media_id", "seg_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run"))
    )
    per_clip = (
        act.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum("a").cast("bigint").alias("n_active"),
        )
        .join(
            runs.groupBy("media_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_segments"),
                F.max("run").cast("bigint").alias("longest_run"),
            ),
            "media_id",
            "left",
        )
        .select(
            "media_id",
            "n_frames",
            "n_active",
            F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
            F.coalesce("longest_run", F.lit(0)).cast("bigint").alias("longest_run"),
        )
    )
    return per_clip.orderBy("media_id")


QUERIES["multimodal_audio_vad"] = q_multimodal_audio_vad

ORACLES["multimodal_audio_vad"] = """
WITH ids AS (SELECT unnest(range(0, 300)) AS id),
a AS (SELECT id, (id % 50 + 1) AS nf FROM ids WHERE id % 3 = 1),
fr AS (
  SELECT id, unnest(range(0, nf)) AS f FROM a
),
en AS (
  SELECT id, f,
         CAST(list_sum(list_transform(generate_series(80*f, 80*f + 79),
              i -> ((i * 257) % 65536 - 32768) * ((i * 257) % 65536 - 32768)))
           AS BIGINT) AS energy
  FROM fr
),
med AS (
  SELECT id, energy AS med_energy FROM (
    SELECT id, energy,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY energy, f) AS rk,
           COUNT(*) OVER (PARTITION BY id) AS nf
    FROM en
  ) WHERE rk = (nf + 1) // 2
),
act AS (
  SELECT en.id, en.f,
         CASE WHEN en.energy > med.med_energy THEN 1 ELSE 0 END AS a
  FROM en JOIN med ON med.id = en.id
),
seg AS (
  SELECT id, f, a,
         CASE WHEN a = 1 AND COALESCE(LAG(a) OVER (PARTITION BY id ORDER BY f), 0) = 0
              THEN 1 ELSE 0 END AS start
  FROM act
),
seg2 AS (
  SELECT id, f, a,
         SUM(start) OVER (PARTITION BY id ORDER BY f
                          ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM seg
),
runs AS (
  SELECT id, seg_id, CAST(COUNT(*) AS BIGINT) AS run
  FROM seg2 WHERE a = 1 GROUP BY 1, 2
),
per_clip AS (
  SELECT act.id,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(SUM(a) AS BIGINT) AS n_active
  FROM act GROUP BY act.id
),
rsum AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(MAX(run) AS BIGINT) AS longest_run
  FROM runs GROUP BY id
)
SELECT p.id AS media_id, p.n_frames, p.n_active,
       COALESCE(r.n_segments, 0) AS n_segments,
       COALESCE(r.longest_run, 0) AS longest_run
FROM per_clip p LEFT JOIN rsum r ON r.id = p.id
ORDER BY media_id
"""


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-vs-exact crossover report (VERDICT r6 item 6): MinHash-LSH
    candidate recall and precision measured against PPJoin's EXACT
    Jaccard >= 0.6 pair set at the SAME threshold, at TWO banding
    settings (16 hashes split 4x4 vs 8x2) — the measured dial behind
    the "exact costs 175 s at sf1, LSH costs ~1 s" trade-off in
    docs/SCALE.md. Measured at sf0.1: recall 0.980 at BOTH band
    settings (251 of 256 exact pairs; the shared estimated-Jaccard
    filter dominates banding at this threshold) while precision falls
    0.040 -> 0.030 as the narrower 8x2 bands admit more weak
    candidates — so the crossover choice is "LSH finds 98% of pairs
    ~100x cheaper; PPJoin buys the last 2% and zero false positives"
    (the 16-hash estimator over-admits: most est>=0.6 pairs sit below
    true 0.6, which downstream exact re-scoring would drop). Truth side
    is operators/dedup.ppjoin_pairs (gate-proven exact elsewhere); the
    report itself is set intersections over the two pair sets — at
    100 TB measuring recall costs nothing next to producing the pairs."""
    from ..operators import dedup

    docs = _documents(spark, sf_dir)
    exact = dedup.ppjoin_pairs(
        docs, "doc_id", "text", threshold_pct=60, shingle_k=3
    ).select("id_a", "id_b")
    parts = []
    for bands in (4, 8):
        approx = dedup.minhash_lsh_pairs(
            docs,
            "doc_id",
            "text",
            num_hashes=16,
            bands=bands,
            shingle_k=3,
            threshold=0.6,
        ).select("id_a", "id_b")
        j = exact.withColumn("e", F.lit(1)).join(
            approx.withColumn("a", F.lit(1)), ["id_a", "id_b"], "full_outer"
        )
        parts.append(
            j.agg(
                F.sum(F.coalesce(F.col("e"), F.lit(0)))
                .cast("bigint")
                .alias("exact_pairs"),
                F.sum(F.coalesce(F.col("a"), F.lit(0)))
                .cast("bigint")
                .alias("lsh_pairs"),
                F.sum(
                    F.when(
                        F.col("e").isNotNull() & F.col("a").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("true_pos"),
            ).select(F.lit(bands).cast("int").alias("bands"), "*")
        )
    out = parts[0].unionByName(parts[1])
    return out.select(
        "bands",
        "exact_pairs",
        "lsh_pairs",
        "true_pos",
        F.when(
            F.col("exact_pairs") > 0,
            F.round(F.col("true_pos") / F.col("exact_pairs"), 6),
        ).alias("recall_r"),
        F.when(
            F.col("lsh_pairs") > 0,
            F.round(F.col("true_pos") / F.col("lsh_pairs"), 6),
        ).alias("precision_r"),
    ).orderBy("bands")


QUERIES["dedup_lsh_recall"] = q_dedup_lsh_recall


def _lsh_cand_sql(nh: int, bands: int, tag: str) -> str:
    """(band, key) explode + distinct candidate pairs for one banding
    setting — the SQL twin of dedup._band_entries at nh/bands."""
    rpb = nh // bands
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS key"
        " FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
    bands{tag} AS ({band_selects}),
    cand{tag} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands{tag} a JOIN bands{tag} b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )"""


def _lsh_recall_oracle() -> str:
    nh = 16
    eq_sum = " + ".join(
        f"CAST((sa.mh{i} = sb.mh{i}) AS INT)" for i in range(nh)
    )
    return f"""
    WITH {_shingle_cte(3)},
    {_minhash_sig_sql(nh)},
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
        -- raw shingle strings (like the dedup_ppjoin oracle), NOT h31
        -- hashes: the truth set must be collision-free to equal PPJoin
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS MATERIALIZED (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE 100 * i >= 60 * (sa.n + sb.n - i)
    ),{_lsh_cand_sql(nh, 4, "4")},{_lsh_cand_sql(nh, 8, "8")},
    un AS (
        SELECT bands, c.id_a, c.id_b FROM (
            SELECT 4 AS bands, id_a, id_b FROM cand4
            UNION ALL
            SELECT 8, id_a, id_b FROM cand8
        ) c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE ({eq_sum}) / {nh}.0 >= 0.6
    ),
    st AS (
        SELECT u.bands,
               CAST(COUNT(*) AS BIGINT) AS lsh_pairs,
               CAST(SUM(CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS true_pos
        FROM un u
        LEFT JOIN exact e ON e.id_a = u.id_a AND e.id_b = u.id_b
        GROUP BY 1
    ),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs FROM exact)
    SELECT b.bands, ex.exact_pairs,
           CAST(COALESCE(st.lsh_pairs, 0) AS BIGINT) AS lsh_pairs,
           CAST(COALESCE(st.true_pos, 0) AS BIGINT) AS true_pos,
           CASE WHEN ex.exact_pairs > 0 THEN
               round(CAST(COALESCE(st.true_pos, 0) AS DOUBLE)
                     / ex.exact_pairs, 6) END AS recall_r,
           CASE WHEN COALESCE(st.lsh_pairs, 0) > 0 THEN
               round(CAST(COALESCE(st.true_pos, 0) AS DOUBLE)
                     / st.lsh_pairs, 6) END AS precision_r
    FROM (SELECT 4 AS bands UNION ALL SELECT 8) b
    CROSS JOIN ex
    LEFT JOIN st ON st.bands = b.bands
    ORDER BY b.bands
    """


ORACLES["dedup_lsh_recall"] = _lsh_recall_oracle()


def q_sim_tfidf_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related documents by sparse set-shingle cosine over the 2-shingle
    inverted index (operators/text.tfidf_cosine_pairs, shingle_k=2) —
    the bag-of-words complement of the dense sim_* family: top-5
    neighbours per doc. Shingles, not words: the synthetic corpus has
    40 distinct words total, so a unigram index is degenerate (every
    posting list is a quadratic bucket); the 2-shingle vocabulary is
    ~10^3 and discriminative. Stop-shingles are capped out of the
    posting-list join by the dual rule df*5 <= n_docs AND df <= 150 —
    the semantic fractional filter plus minhash-style absolute bucket
    guard (norms keep every shingle, so the reported cosine is a tight
    lower bound; tfidf_cosine_pairs' docstring records why fixed-only,
    fractional-only, and sqrt-law caps each failed a measured scale
    test). Integer weights w = (tf*10^6) div df make dots and norms
    exact cross-engine (tf = 1 per distinct shingle); the cosine is
    one deterministic double expression over exact ints."""
    from ..operators import text as text_ops

    docs = _documents(spark, sf_dir)
    return text_ops.tfidf_cosine_pairs(
        docs,
        "doc_id",
        "text",
        k=5,
        max_join_df_den=5,
        # 150, not 1000: bucket volume is sum(df^2) over admitted
        # shingles — measured at sf0.1: cap 150 = 13 s, cap 300 = 71 s,
        # cap 1000 = 184 s. The synthetic corpus's tiny generative
        # vocabulary makes FULL neighbour coverage inherently quadratic;
        # the guard's job is to refuse that, trading coverage for
        # bounded work (docs sharing only stop-shingles get no row).
        max_bucket_df=150,
        shingle_k=2,
    ).orderBy("id_a", "rnk")


QUERIES["sim_tfidf_sparse"] = q_sim_tfidf_sparse


def q_sim_tfidf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage meter for the capped sparse cosine (VERDICT r7 item 5):
    recall@5 and doc coverage of sim_tfidf_sparse's dual-capped ranking
    against the UNCAPPED exact tf/df cosine ranking, at TWO absolute-cap
    settings (max_bucket_df 150 and 600, fractional filter fixed at
    df*5 <= n) — mirroring the crossover-gate pattern dedup_lsh_recall
    set for LSH-vs-PPJoin. The dual cap deliberately trades neighbour
    coverage for bounded work (docs sharing only stop-shingles get no
    row); this query measures that loss instead of asserting it. Truth
    rankings are quadratic per query doc, so both sides evaluate a
    deterministic 10% query-doc sample (doc_id % 10 = 0) against the
    FULL corpus — the standard at-scale recall-measurement shape
    (sampled queries, complete truth per query); the embedded uncapped
    side IS the cost being dialled away and never composes into
    pipelines. Measured (docs/SCALE.md): at sf0.01 the fractional
    filter (df <= 100) dominates both caps — recall 1.0, coverage 1.0,
    both rows identical by construction. At sf0.1 the absolute guard
    is what bites, and steeply: cap 150 keeps recall@5 0.056 /
    coverage 0.062 (admitted pair work sum(df^2) = 2.4e3 — the gate
    default refuses the quadratic corpus almost entirely), while cap
    600 exceeds this corpus's max shingle df, so it admits the full
    7.3e7 pair work and recovers recall/coverage 1.000 exactly. On
    THIS corpus there is no useful middle: every 2-shingle is either
    rare (df < ~50) or boilerplate (df 150-600), so the exact ranking
    is decided by shingles the 150-cap drops. The honest conclusion:
    an absolute bucket cap is a WORK bound whose quality cost is
    corpus-shape-dependent and must be measured per corpus — which is
    what this gate does; at sf1 (df ~10x) the same 600 would bite
    again while the fractional df*5<=n filter keeps tracking the
    boilerplate band."""
    from ..operators import text as text_ops

    docs = _documents(spark, sf_dir)
    sample = F.col("doc") % 10 == 0
    truth = text_ops.tfidf_cosine_pairs(
        docs, "doc_id", "text", k=5, shingle_k=2, query_pred=sample
    ).select("id_a", "id_b")
    parts = []
    for cap in (150, 600):
        capped = text_ops.tfidf_cosine_pairs(
            docs,
            "doc_id",
            "text",
            k=5,
            max_join_df_den=5,
            max_bucket_df=cap,
            shingle_k=2,
            query_pred=sample,
        ).select("id_a", "id_b")
        j = truth.withColumn("t", F.lit(1)).join(
            capped.withColumn("c", F.lit(1)), ["id_a", "id_b"], "full_outer"
        )
        parts.append(
            j.agg(
                F.countDistinct(
                    F.when(F.col("t").isNotNull(), F.col("id_a"))
                ).alias("q_docs"),
                F.countDistinct(
                    F.when(F.col("c").isNotNull(), F.col("id_a"))
                ).alias("docs_covered"),
                F.sum(F.coalesce(F.col("t"), F.lit(0)))
                .cast("bigint")
                .alias("truth_pairs"),
                F.sum(F.coalesce(F.col("c"), F.lit(0)))
                .cast("bigint")
                .alias("capped_pairs"),
                F.sum(
                    F.when(
                        F.col("t").isNotNull() & F.col("c").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("hits"),
            ).select(F.lit(cap).cast("int").alias("bucket_cap"), "*")
        )
    out = parts[0].unionByName(parts[1])
    return out.select(
        "bucket_cap",
        "q_docs",
        "docs_covered",
        "truth_pairs",
        "capped_pairs",
        "hits",
        F.when(
            F.col("truth_pairs") > 0,
            F.round(F.col("hits") / F.col("truth_pairs"), 6),
        ).alias("recall_r"),
        F.when(
            F.col("q_docs") > 0,
            F.round(F.col("docs_covered") / F.col("q_docs"), 6),
        ).alias("coverage_r"),
    ).orderBy("bucket_cap")


QUERIES["sim_tfidf_recall"] = q_sim_tfidf_recall


def _zipf_docs(docs: DataFrame) -> DataFrame:
    """Deterministic Zipfian re-tokenization of the documents corpus —
    the coverage meter's measurable corpus (VERDICT r8 item 5).

    The synthetic fixture's 40-word vocabulary makes every 2-shingle
    either rare or boilerplate (measured sf0.1: vocab 931, median df
    285 of 5000 docs — no middle), so the bucket-cap dial has nothing
    to measure: one cap admits nothing, the next admits everything.
    This derivation keeps each document's REAL length but replaces the
    token at position i with an integer-only draw from a power-law
    family: x = LCG(doc_id, i) mod 2^31, depth g = x mod 16, token
    t = (x >> 4) mod 2^g. Summing the uniform depths gives
    P(token) ~ 2^-depth — a discrete Zipf-like df spectrum with a real
    head (df ~ n_docs, dropped by the fractional filter), a middle
    (df 30..600 — what the absolute cap dials over), and a long rare
    tail (simulated at 5000 docs: vocab ~47.5k, 690 terms in df 31-150,
    150 in 151-600).

    Every step is exact integer arithmetic (multiply/add/mod/shift on
    positive operands), so Spark and DuckDB derive bit-identical
    corpora — the same cross-engine contract as the hash-sketch
    families. All map-side: one projection, no shuffle."""
    from ..functions import words

    # doc_id reduces mod 2^31 BEFORE the multiply: the raw product
    # overflows BIGINT once doc_id exceeds ~8.4e9 (the sf1 rehearsal's
    # key-shifted replica ids reach 9e9 and ANSI Spark errors out).
    # Identity for doc_id < 2^31 — every driver SF — so the derived
    # corpus and oracle values are unchanged where both engines run.
    xs = F.transform(
        F.sequence(F.lit(1), F.size(words(F.col("text")))),
        lambda i: F.pmod(
            F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(1103515245)
            + i.cast("bigint") * F.lit(2654435761)
            + F.lit(12345),
            F.lit(2147483648),
        ),
    )
    tok = F.transform(
        xs,
        lambda x: F.concat(
            F.lit("z"),
            F.pmod(x, F.lit(16)).cast("string"),
            F.lit("_"),
            F.pmod(
                F.shiftright(x, 4),
                # 2^g as exact double->bigint (g <= 15; pyspark's
                # shiftleft only takes a literal bit count)
                F.pow(F.lit(2.0), F.pmod(x, F.lit(16)).cast("double"))
                .cast("bigint"),
            ).cast("string"),
        ),
    )
    return docs.select("doc_id", F.array_join(tok, " ").alias("text"))


def q_sim_tfidf_recall_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coverage meter on a corpus with a df middle (VERDICT r8
    item 5): recall@5 / coverage / admitted-pair-work fraction of the
    work-capped sparse cosine vs the work-UNcapped exact ranking, over
    the derived Zipfian corpus (_zipf_docs) at four absolute-cap
    settings. sim_tfidf_recall stays registered as the honest
    degenerate case (on the 40-word fixture there is no useful middle
    cap); THIS gate is what the meter looks like on a corpus shaped
    like real text.

    Truth keeps the FRACTIONAL stop-term filter (df*5 <= n) and drops
    only the absolute work cap — the dial under measurement. The
    semantic filter is part of the index definition, not the work
    bound: df ~ n terms are non-discriminative by definition (and on
    this corpus provably don't move top-5 — the cap-150 row measured
    recall 1.0 against the fully-unfiltered ranking before this
    framing landed). The scale reason is just as load-bearing: a
    Zipfian head term has df ~ n, so an absolutely-unfiltered truth
    join is Theta(n^2) PER HEAD TERM — the first sf1 rehearsal of
    this gate serialized on exactly those buckets (2.5e8 pairs each,
    single-task-bound for minutes, killed) — while the
    fractional-only exact side stays bucket-bounded at df <= n/5 and
    rehearses cleanly.

    work_frac_r is the meter's cost axis: sum(df^2) over admitted
    terms (df*5 <= n AND df <= cap) divided by the fractional-only
    sum(df^2) — the posting-join pair work actually paid vs the
    exact side's. Measured at sf0.1 (5000 docs, sampled queries
    doc%10=0, unigram index): cap 10 -> recall 0.961 at 1.4% of the
    exact work; cap 30 -> 0.994 at 4.0%; cap 2 -> collapse 0.339;
    docs/SCALE.md logs the curve."""
    docs = _documents(spark, sf_dir)
    zdocs = _zipf_docs(docs)
    sample = F.col("doc") % 10 == 0
    # max_bucket_df=2^31: engages the dual-filter path with a vacuous
    # absolute cap — fractional-only truth. NO localCheckpoint despite
    # the truth subtree appearing in all four capped parts: Spark's
    # physical planner dedups identical exchange subtrees inside the
    # one union plan (ReusedExchange), so the truth executes ~once
    # anyway — measured A/B at sf1 (alternating same-session runs):
    # 50.3/44.4 s without vs 52.0/46.3 s with the checkpoint. The
    # trained-IVF cells checkpoint is different: its consumers live in
    # SEPARATE actions, where exchange reuse can't apply.
    truth = text.tfidf_cosine_pairs(
        zdocs,
        "doc_id",
        "text",
        k=5,
        max_join_df_den=5,
        max_bucket_df=2**31,
        shingle_k=1,
        query_pred=sample,
    ).select("id_a", "id_b")

    from ..functions import words

    zt = zdocs.select(
        F.col("doc_id").alias("doc"),
        F.explode(words(F.col("text"))).alias("term"),
    )
    tf = zt.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    nd = zdocs.agg(F.count(F.lit(1)).cast("bigint").alias("ndocs"))
    truth_work = (
        dfreq.crossJoin(F.broadcast(nd))
        .where(F.col("df") * 5 <= F.col("ndocs"))
        .agg(
            F.coalesce(F.sum(F.col("df") * F.col("df")), F.lit(0))
            .cast("bigint")
            .alias("truth_work")
        )
    )

    parts = []
    for cap in (150, 30, 10, 2):
        capped = text.tfidf_cosine_pairs(
            zdocs,
            "doc_id",
            "text",
            k=5,
            max_join_df_den=5,
            max_bucket_df=cap,
            shingle_k=1,
            query_pred=sample,
        ).select("id_a", "id_b")
        j = truth.withColumn("t", F.lit(1)).join(
            capped.withColumn("c", F.lit(1)), ["id_a", "id_b"], "full_outer"
        )
        stats = j.agg(
            F.countDistinct(
                F.when(F.col("t").isNotNull(), F.col("id_a"))
            ).alias("q_docs"),
            F.countDistinct(
                F.when(F.col("c").isNotNull(), F.col("id_a"))
            ).alias("docs_covered"),
            F.sum(F.coalesce(F.col("t"), F.lit(0)))
            .cast("bigint")
            .alias("truth_pairs"),
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("capped_pairs"),
            F.sum(
                F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("hits"),
        )
        work = (
            dfreq.crossJoin(F.broadcast(nd))
            .where(
                (F.col("df") * 5 <= F.col("ndocs")) & (F.col("df") <= cap)
            )
            .agg(
                F.coalesce(F.sum(F.col("df") * F.col("df")), F.lit(0))
                .cast("bigint")
                .alias("pair_work")
            )
        )
        parts.append(
            stats.crossJoin(F.broadcast(work))
            .crossJoin(F.broadcast(truth_work))
            .select(F.lit(cap).cast("int").alias("bucket_cap"), "*")
        )
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    return out.select(
        "bucket_cap",
        "q_docs",
        "docs_covered",
        "truth_pairs",
        "capped_pairs",
        "hits",
        "pair_work",
        "truth_work",
        F.when(
            F.col("truth_pairs") > 0,
            F.round(F.col("hits") / F.col("truth_pairs"), 6),
        ).alias("recall_r"),
        F.when(
            F.col("q_docs") > 0,
            F.round(F.col("docs_covered") / F.col("q_docs"), 6),
        ).alias("coverage_r"),
        F.when(
            F.col("truth_work") > 0,
            F.round(F.col("pair_work") / F.col("truth_work"), 6),
        ).alias("work_frac_r"),
    ).orderBy("bucket_cap")


QUERIES["sim_tfidf_recall_zipf"] = q_sim_tfidf_recall_zipf


def _tfidf_topk_sql(tag: str, cap: int | None) -> str:
    """Sampled-query top-5 CTE over the shared wt/n2 relations — the SQL
    twin of tfidf_cosine_pairs(query_pred=doc%10=0) with or without the
    dual stop-shingle cap."""
    side = (
        "SELECT wt.* FROM wt CROSS JOIN nd"
        f" WHERE df * 5 <= ndocs AND df <= {cap}"
        if cap is not None
        else "SELECT wt.* FROM wt"
    )
    return f"""
    side{tag} AS ({side}),
    dots{tag} AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(CAST(a.w AS HUGEINT) * CAST(b.w AS HUGEINT)) AS dot
        FROM side{tag} a JOIN side{tag} b
          ON a.term = b.term AND a.doc_id <> b.doc_id
        WHERE a.doc_id % 10 = 0
        GROUP BY 1, 2
    ),
    top{tag} AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_a
                       ORDER BY round(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(na.n2 AS DOUBLE))
                              * sqrt(CAST(nb.n2 AS DOUBLE))), 6) DESC,
                           id_b ASC
                   ) AS rnk
            FROM dots{tag}
            JOIN n2 na ON na.doc_id = id_a
            JOIN n2 nb ON nb.doc_id = id_b)
        WHERE rnk <= 5
    )"""


def _tfidf_recall_stats(cap: str, work: bool = False) -> str:
    """Recall/coverage aggregate of one capped top-5 vs the shared truth
    top-5 — full-outer pair join then counts, one row per cap setting.

    ``work=True`` (the Zipf meter) additionally emits the pair-work
    meter columns, reading the shared MATERIALIZED 1-row CTEs ``tw``
    (fractional-only exact work) and ``pw{cap}`` (admitted work) the
    caller must provide — one metric definition for both meters."""
    work_cols = (
        f""",
               (SELECT pw FROM pw{cap}) AS pair_work,
               (SELECT tw FROM tw) AS truth_work"""
        if work
        else ""
    )
    work_frac = (
        f""",
               CASE WHEN (SELECT tw FROM tw) > 0 THEN
                   round(CAST((SELECT pw FROM pw{cap}) AS DOUBLE)
                         / (SELECT tw FROM tw), 6)
               END AS work_frac_r"""
        if work
        else ""
    )
    return f"""st{cap} AS (
        SELECT {cap} AS bucket_cap,
               CAST(COUNT(DISTINCT CASE WHEN t IS NOT NULL THEN id_a END)
                    AS BIGINT) AS q_docs,
               CAST(COUNT(DISTINCT CASE WHEN c IS NOT NULL THEN id_a END)
                    AS BIGINT) AS docs_covered,
               CAST(SUM(COALESCE(t, 0)) AS BIGINT) AS truth_pairs,
               CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS capped_pairs,
               CAST(SUM(CASE WHEN t IS NOT NULL AND c IS NOT NULL THEN 1
                        ELSE 0 END) AS BIGINT) AS hits{work_cols},
               CASE WHEN SUM(COALESCE(t, 0)) > 0 THEN
                   round(CAST(SUM(CASE WHEN t IS NOT NULL
                                   AND c IS NOT NULL THEN 1 ELSE 0 END)
                              AS DOUBLE) / SUM(COALESCE(t, 0)), 6)
               END AS recall_r,
               CASE WHEN COUNT(DISTINCT CASE WHEN t IS NOT NULL
                                THEN id_a END) > 0 THEN
                   round(CAST(COUNT(DISTINCT CASE WHEN c IS NOT NULL
                                    THEN id_a END) AS DOUBLE)
                         / COUNT(DISTINCT CASE WHEN t IS NOT NULL
                                 THEN id_a END), 6)
               END AS coverage_r{work_frac}
        FROM (
          SELECT COALESCE(t.id_a, c.id_a) AS id_a, t.t, c.c FROM
            (SELECT id_a, id_b, 1 AS t FROM topt) t
            FULL OUTER JOIN
            (SELECT id_a, id_b, 1 AS c FROM topc{cap}) c
            USING (id_a, id_b)
        )
    )"""


ORACLES["sim_tfidf_recall"] = f"""
    WITH {_shingle_cte(2)},
    tf AS (
        SELECT doc_id, s AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM sh GROUP BY 1, 2
    ),
    dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    wt AS (
        SELECT doc_id, tf.term, dfq.df,
               CAST((tf * 1000000) // df AS BIGINT) AS w
        FROM tf JOIN dfq USING (term)
    ),
    n2 AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT)) AS n2
        FROM wt GROUP BY 1
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndocs FROM documents),
    {_tfidf_topk_sql("t", cap=None)},
    {_tfidf_topk_sql("c150", cap=150)},
    {_tfidf_topk_sql("c600", cap=600)},
    {_tfidf_recall_stats("150")},
    {_tfidf_recall_stats("600")}
    SELECT * FROM st150 UNION ALL SELECT * FROM st600 ORDER BY bucket_cap
"""

def _zipf_work_ctes(caps: tuple[int, ...]) -> str:
    """Shared 1-row work-meter CTEs for the Zipf meter: ``tw`` = the
    fractional-only exact side's sum(df^2); ``pw{cap}`` = the admitted
    sum(df^2) per cap. MATERIALIZED so each is computed once however
    many stat CTEs read it."""
    pws = ",".join(
        f"""
    pw{cap} AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(df * df), 0) AS BIGINT) AS pw
        FROM dfq CROSS JOIN nd
        WHERE df * 5 <= ndocs AND df <= {cap})"""
        for cap in caps
    )
    return f"""
    tw AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(df * df), 0) AS BIGINT) AS tw
        FROM dfq CROSS JOIN nd
        WHERE df * 5 <= ndocs),{pws}"""


ORACLES["sim_tfidf_recall_zipf"] = f"""
    WITH zw AS (
        SELECT doc_id,
               unnest(generate_series(
                   1, len(string_split({_NORM}, ' ')))) AS i
        FROM documents
    ),
    zt AS (
        SELECT doc_id,
               'z' || (x % 16) || '_' ||
               ((x >> 4) % (CAST(1 AS BIGINT) << CAST(x % 16 AS INT)))
                   AS term
        FROM (SELECT doc_id,
                     ((doc_id % 2147483648) * 1103515245
                      + i * 2654435761 + 12345) % 2147483648 AS x
              FROM zw)
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM zt GROUP BY 1, 2
    ),
    dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    wt AS (
        SELECT doc_id, tf.term, dfq.df,
               CAST((tf * 1000000) // df AS BIGINT) AS w
        FROM tf JOIN dfq USING (term)
    ),
    n2 AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT)) AS n2
        FROM wt GROUP BY 1
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndocs FROM documents),
    {_tfidf_topk_sql("t", cap=2**31)},
    {_tfidf_topk_sql("c150", cap=150)},
    {_tfidf_topk_sql("c30", cap=30)},
    {_tfidf_topk_sql("c10", cap=10)},
    {_tfidf_topk_sql("c2", cap=2)},
    {_zipf_work_ctes((150, 30, 10, 2))},
    {_tfidf_recall_stats("150", work=True)},
    {_tfidf_recall_stats("30", work=True)},
    {_tfidf_recall_stats("10", work=True)},
    {_tfidf_recall_stats("2", work=True)}
    SELECT * FROM st150 UNION ALL SELECT * FROM st30
    UNION ALL SELECT * FROM st10 UNION ALL SELECT * FROM st2
    ORDER BY bucket_cap
"""


ORACLES["sim_tfidf_sparse"] = f"""
    WITH {_shingle_cte(2)},
    tf AS (
        SELECT doc_id, s AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM sh GROUP BY 1, 2
    ),
    dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    wt AS (
        SELECT doc_id, tf.term, dfq.df,
               CAST((tf * 1000000) // df AS BIGINT) AS w
        FROM tf JOIN dfq USING (term)
    ),
    n2 AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT)) AS n2
        FROM wt GROUP BY 1
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndocs FROM documents),
    side AS (
        SELECT wt.* FROM wt CROSS JOIN nd
        WHERE df * 5 <= ndocs AND df <= 150
    ),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(CAST(a.w AS HUGEINT) * CAST(b.w AS HUGEINT)) AS dot
        FROM side a JOIN side b
          ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    cos AS (
        SELECT id_a, id_b,
               round(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine_r
        FROM dots
        JOIN n2 na ON na.doc_id = id_a
        JOIN n2 nb ON nb.doc_id = id_b
    ),
    r AS (
        SELECT id_a, id_b, cosine_r,
               ROW_NUMBER() OVER (
                   PARTITION BY id_a ORDER BY cosine_r DESC, id_b ASC
               ) AS rnk
        FROM cos
    )
    SELECT id_a, id_b, cosine_r, rnk FROM r WHERE rnk <= 5
    ORDER BY id_a, rnk
"""
