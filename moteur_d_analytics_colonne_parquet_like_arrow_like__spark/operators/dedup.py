"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all reference-free extensions (the reference engine has
no dedup surface; this is the north-star scope from BASELINE.json):

- **exact**: hash group-by on content — one shuffle on the content hash.
- **MinHash + LSH**: shingle → 31-bit stable hash → k permutations → band →
  bucket-join. The only pairwise work happens inside LSH buckets, so cost is
  ~O(n · sig) + skew-bounded bucket joins, not O(n²) — the 100 TB path.
- **SimHash**: 31-bit fingerprint whose hamming distance tracks cosine
  similarity of shingle sets; near-dup candidates come from fingerprint
  band equality.
- **n-gram Jaccard**: exact set similarity via inverted-index join
  (doc-shingle exploded, joined on shingle) — exact but heavier; used to
  verify the sketch-based families.
- **embedding cosine**: see similarity.py for the bucketed form.

All hashing uses the md5-based stable family (functions/__init__.py) so every
operator is verifiable against a DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, functions as F

logger = logging.getLogger(__name__)


def cap_bucket_size(
    entries: DataFrame,
    bucket_cols: list[str],
    cap: int | None,
    log_dropped: bool = False,
) -> DataFrame:
    """Skew guard for LSH-style self-joins: drop buckets larger than ``cap``
    before pairing. A hot bucket (boilerplate text, zero vectors, adversarial
    data) makes the bucket self-join quadratic — AQE skew splitting does not
    help because the pairs themselves are the blow-up. Dropping a bucket
    trades recall for a hard cost bound; near-dup pairs inside a dropped
    bucket can still surface through their other bands/chunks/probes.

    The bucket census is one extra aggregation on the SAME key the self-join
    shuffles on, so the exchange is reused. ``log_dropped=True`` runs a small
    side action counting dropped buckets and logs it (off by default: it
    adds a job).
    """
    if cap is None:
        return entries
    counts = entries.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bsz"))
    if log_dropped:
        dropped = counts.where(F.col("__bsz") > cap).count()
        if dropped:
            logger.warning(
                "cap_bucket_size: dropping %d buckets over cap=%d on %s",
                dropped,
                cap,
                bucket_cols,
            )
    keep = counts.where(F.col("__bsz") <= cap).select(*bucket_cols)
    return entries.join(keep, bucket_cols)


def bucket_cap_advisor(
    entries: DataFrame,
    bucket_cols: list[str],
) -> DataFrame:
    """Make the r10 cap-sizing rule EXECUTABLE (VERDICT r10 item 3): a
    census of bucket-occupancy sizes over the SAME keys
    ``cap_bucket_size`` caps, plus a recommended cap derived from it.
    Both r10 scale cliffs (the e2e bucket-cap recall cliff, the fuzzy
    join's emptied blocks) were fixed-cap-vs-growing-data failures found
    by a human reading rehearsal numbers; this operator is that reading,
    as a relation any pipeline can consume before committing to a cap.

    One row per distinct occupancy size: how many buckets have that
    size, how many entries they hold, and the pair work sz*(sz-1)/2 a
    bucket self-join would pay inside them (the cost the cap bounds).
    ``advised_cap`` (same scalar on every row) estimates the GENUINE
    duplicate-cluster size the r10 deployment rule says the cap must
    exceed, as the greater of two integer-exact census statistics:

    - the entry-weighted MODAL occupancy above singletons (ties -> the
      larger size; 1 if the corpus has no multi-entry buckets): genuine
      duplicate families put their entry mass at the cluster size — the
      sf1 replica corpus puts 81,500 of 199,680 entries at exactly
      occupancy 10, its replication factor — while pathological
      boilerplate buckets are few and entry-sparse in aggregate;
    - the MAJORITY occupancy (smallest s with cum_entries*3 >= 2*total)
      as the guard when the distribution is flat and no single mode
      dominates.

    A cap below ``advised_cap`` is the measured r10 recall cliff (cap=4
    on the sf1 corpus silently swallowed the occupancy-10 replica
    buckets); a cap far above it pays quadratic pair work inside tail
    buckets for recall the other bands already provide. Every
    comparison is integer, never a float share, so the DuckDB oracle
    matches bit-for-bit — and running this census at a rehearsal SF
    turns the r10 human discovery into a mechanical check:
    ``assert cap >= advised_cap``.

    Scale shape: one groupBy on the bucket keys (the exchange the
    pairing join shuffles on anyway) + one groupBy on the occupancy size
    — census cardinality = number of DISTINCT occupancy sizes, a few
    hundred rows at any corpus scale, so the cumulative window and the
    broadcast totals are driver-trivial by construction.
    """
    counts = entries.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("__bsz")
    )
    census = counts.groupBy("__bsz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    )
    census = census.select(
        F.col("__bsz").cast("bigint").alias("bucket_sz"), "n_buckets"
    ).selectExpr(
        "bucket_sz",
        "n_buckets",
        "CAST(bucket_sz * n_buckets AS BIGINT) AS n_entries",
        # integer div — sz*(sz-1) is even, so exact, and DIV keeps the
        # oracle's // bit-identical (no float path)
        "CAST((bucket_sz * (bucket_sz - 1)) DIV 2 * n_buckets AS BIGINT)"
        " AS n_pairs",
    )
    from pyspark.sql import Window

    # census is <= a few hundred rows (distinct occupancy sizes), so the
    # single-partition cumulative window is bounded by construction
    w = Window.orderBy("bucket_sz").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = census.withColumn(
        "cum_entries", F.sum("n_entries").over(w).cast("bigint")
    )
    tot = cum.agg(F.sum("n_entries").cast("bigint").alias("__tot"))
    multi = census.where(F.col("bucket_sz") >= 2)
    maxe = multi.agg(F.max("n_entries").alias("__maxe"))
    # modal: largest occupancy holding the max entry mass among
    # multi-entry sizes (agg over empty input -> null -> coalesce 1)
    modal = (
        multi.crossJoin(F.broadcast(maxe))
        .where(F.col("n_entries") == F.col("__maxe"))
        .agg(F.coalesce(F.max("bucket_sz"), F.lit(1)).alias("__modal"))
    )
    majority = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cum_entries") * F.lit(3) >= F.lit(2) * F.col("__tot"))
        .agg(F.min("bucket_sz").alias("__majority"))
    )
    advised = modal.crossJoin(F.broadcast(majority)).select(
        F.greatest("__modal", "__majority")
        .cast("bigint")
        .alias("advised_cap")
    )
    return (
        cum.crossJoin(F.broadcast(advised))
        .select(
            "bucket_sz",
            "n_buckets",
            "n_entries",
            "n_pairs",
            "cum_entries",
            "advised_cap",
        )
        .orderBy("bucket_sz")
    )

from ..functions import (
    MINHASH_COEFFS,
    PERM_PRIME,
    dot_product,
    stable_hash31,
    stable_hash60,
    word_shingles,
)


def exact_dedup(
    df: DataFrame, id_col: str, content_cols: list[str]
) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the smallest id
    (deterministic keeper) plus the duplicate count.

    Shuffles once on the content hash; at 100 TB, group on a 60-bit content
    hash instead of the raw text to keep shuffle rows narrow.
    """
    content_hash = stable_hash60(F.concat_ws("", *content_cols))
    return (
        df.withColumn("__chash", content_hash)
        .groupBy("__chash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__chash")
    )


def _doc_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, h31) per distinct shingle-hash per doc. The dedup happens
    array-side (array_distinct over the hash array) before the explode —
    no shuffle, and identical semantics to the oracle's
    DISTINCT (doc_id, h31) even under h31 collisions."""
    hashes = F.array_distinct(
        F.transform(
            word_shingles(text_col, shingle_k), lambda s: stable_hash31(s)
        )
    )
    return df.select(id_col, F.explode(hashes).alias("h31"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    (a_i · h31 + b_i) mod P61.

    One explode + one groupBy with ``num_hashes`` min-aggregates — a single
    shuffle on the doc id, fully JVM-side.
    """
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"at most {len(MINHASH_COEFFS)} hashes supported")
    sh = _doc_shingle_hashes(df, id_col, text_col, shingle_k)
    aggs = []
    for i in range(num_hashes):
        a, b = MINHASH_COEFFS[i]
        aggs.append(
            F.min(
                F.pmod(F.lit(a) * F.col("h31") + F.lit(b), F.lit(PERM_PRIME))
            ).alias(f"mh{i}")
        )
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("signature")
    )


def _cached_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_k: int
) -> DataFrame:
    """Signature relation sized for its consumers, then cached (r13
    optimization round): ``minhash_signatures`` ends in a group-by at the
    session shuffle width, so the cached relation — and with it EVERY
    downstream stage of the banding/scoring DAG, which inherits the
    cache's partitioning — carried conf-width partitions however small the
    corpus (32 partitions of a 5k-doc signature table; each bench rep paid
    ~6 stages x 32 tiny tasks of pure scheduling). Coalescing to the
    data-derived width before caching (one partition per ~340 KB of input,
    capped at the conf — session.explicit_shuffle_width, the
    small_scan_slices rule applied to an exchange) cut the bench gate
    679-1296 -> 245-309 ms at identical output. The coalesce lands on the
    group-by's FINAL aggregate only: the expensive map side (shingle
    explode + md5) keeps full scan parallelism, and at-scale inputs
    saturate the cap so production width stays the cluster conf.

    Sizing proxy note (ADVICE r13): the width derives from the RAW
    DOCUMENT relation's input bytes, while the cached relation is the much
    smaller signature table (id + num_hashes ints). That is deliberate: a
    cached partition must also absorb the downstream band-explode (x
    bands) and self-join fan-out, so the document bytes act as a cheap
    UPPER BOUND that errs toward more partitions — never fewer — and the
    signature relation has no on-disk files to size directly."""
    from ..session import explicit_shuffle_width

    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return sig.coalesce(explicit_shuffle_width(df)).cache()


def _band_entries(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature table into its LSH (band, key) entries —
    shared by the self-pair and ingest-probe variants so both block on
    the identical keys."""
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col("signature")[b * rows_per_band + r].cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "bk.band", "bk.key")


def minhash_lsh_ingest_pairs(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Incremental-ingest near-dup screen: every INCOMING document is
    probed against the EXISTING corpus via the same MinHash-LSH banding
    as ``minhash_lsh_pairs`` — the production ingest shape, where a new
    batch dedups against a 100 TB corpus WITHOUT re-pairing the corpus
    with itself. Returns (corpus_id, new_id, est_jaccard >= threshold).

    Scale shape: the corpus side is banded once (in production,
    persisted and partitioned by (band, key) — the LSH index); the
    incoming batch bands and equi-joins on the bucket key, so work is
    |incoming bands| x bucket occupancy, independent of corpus self-
    pair count. ``max_bucket_size`` caps HOT CORPUS buckets (boilerplate
    keys) exactly like the self-pair variant; candidates dedup before
    the signature-agreement scorer."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    sig_c = _cached_signatures(corpus, id_col, text_col, num_hashes, shingle_k)
    sig_n = _cached_signatures(incoming, id_col, text_col, num_hashes, shingle_k)
    bc = cap_bucket_size(
        _band_entries(sig_c, id_col, num_hashes, bands),
        ["band", "key"],
        max_bucket_size,
        log_dropped,
    )
    bn = _band_entries(sig_n, id_col, num_hashes, bands)
    candidates = (
        bc.alias("c")
        .join(
            bn.alias("n"),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.key") == F.col("n.key")),
        )
        .select(
            F.col("c.__id").alias("corpus_id"),
            F.col("n.__id").alias("new_id"),
        )
        .distinct()
    )
    sa = sig_c.select(
        F.col(id_col).alias("corpus_id"), F.col("signature").alias("sig_a")
    )
    sb = sig_n.select(
        F.col(id_col).alias("new_id"), F.col("signature").alias("sig_b")
    )
    est = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))
    return (
        candidates.join(sa, "corpus_id")
        .join(sb, "new_id")
        .select("corpus_id", "new_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def advised_cap_from_entries(entries: DataFrame) -> int:
    """Run the ``bucket_cap_advisor`` census over an existing band-entry
    relation and return the advised cap as a scalar (the single-scalar
    collect is a config decision derived from one bounded aggregate —
    the same legitimacy class as approxQuantile chunk boundaries).

    Raises a clear ``ValueError`` on an empty corpus (no band entries
    means the census relation itself is empty and there is nothing to
    advise on) instead of the bare ``TypeError`` a ``.first()`` on an
    empty frame used to produce (ADVICE r11)."""
    row = (
        bucket_cap_advisor(entries, ["band", "key"])
        .select("advised_cap")
        .first()
    )
    if row is None:
        raise ValueError(
            "empty corpus — no band entries to census; nothing to advise"
        )
    return int(row["advised_cap"])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | str | None = None,
    log_dropped: bool = False,
    assert_cap_advised: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding.

    Docs agreeing on ALL rows of any band become candidates; candidates are
    scored by estimated Jaccard (fraction of equal signature components) and
    kept if ≥ threshold. Pairwise work is confined to LSH buckets;
    ``max_bucket_size`` caps the per-bucket self-join (see
    ``cap_bucket_size``) so one hot bucket cannot go quadratic at scale.

    ``max_bucket_size="advised"`` sizes the cap from the bucket-occupancy
    census (``bucket_cap_advisor``) — and pays for it with ONE corpus
    pass, not two (VERDICT r11 item 3): the census runs over the SAME
    cached signature relation the pairing reads, so its eager ``.first()``
    materializes the signature cache that every downstream branch then
    reuses. The r11 form computed a separate signature DAG for the census
    (advised gate 2.4-3× the plain gate wall); this form is the fix.
    ``assert_cap_advised=True`` keeps an explicit integer cap but runs the
    same shared-signature census and FAILS if the cap sits below the
    advised value — the r10 recall cliff as a hard error instead of a
    silent no-op near-dup stage.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    sig = _cached_signatures(df, id_col, text_col, num_hashes, shingle_k)

    band_entries = _band_entries(sig, id_col, num_hashes, bands)
    if max_bucket_size == "advised":
        max_bucket_size = advised_cap_from_entries(band_entries)
    elif assert_cap_advised and max_bucket_size is not None:
        advised = advised_cap_from_entries(band_entries)
        if max_bucket_size < advised:
            raise ValueError(
                f"near-dup bucket cap {max_bucket_size} is below the "
                f"census-advised {advised} on this corpus — the r10 "
                "recall cliff; raise the cap or pass 'advised'"
            )
    band_entries = cap_bucket_size(
        band_entries, ["band", "key"], max_bucket_size, log_dropped
    )

    a = band_entries.alias("a")
    b = band_entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )

    sa = sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Benchmark contamination (decontamination pass): for every eval-set
    document, its k-gram CONTAINMENT in each training document —
    |eval ∩ train| / |eval| — flagging (eval_id, train_id) pairs at or
    above ``threshold``. Containment, not Jaccard: a short benchmark item
    embedded verbatim in a long web page is 100% contained but has tiny
    Jaccard, and it is exactly the case a decontamination pass must catch.

    Scale shape: both sides reduce to (id, shingle-hash) postings and meet
    in an inverted-index equi-join on the hash — only (train, eval) pairs
    sharing ≥1 shingle are ever materialized, the same bounded pattern as
    ``ngram_jaccard_pairs``. The eval side is a benchmark suite (KB-MB
    even when the train side is 100 TB), so its postings broadcast and the
    train side never shuffles. ``max_doc_freq`` drops stop-shingles from
    the TRAIN side of the join only (denominator |eval| stays exact);
    containment becomes a tight lower bound, capping hot posting lists.
    """
    ev = _doc_shingle_hashes(eval_df, id_col, text_col, shingle_k)
    tr = _doc_shingle_hashes(train, id_col, text_col, shingle_k)
    sizes = ev.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_eval"))
    if max_doc_freq is not None:
        rare = (
            tr.groupBy("h31")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("h31")
        )
        tr = tr.join(rare, "h31")
    common = (
        tr.select(F.col(id_col).alias("train_id"), "h31")
        .join(
            F.broadcast(ev.select(F.col(id_col).alias("eval_id"), "h31")),
            "h31",
        )
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.col("n_common") / F.col("n_eval")
    return (
        common.join(
            F.broadcast(sizes.select(F.col(id_col).alias("eval_id"), "n_eval")),
            "eval_id",
        )
        .select("eval_id", "train_id", containment.alias("containment"))
        .where(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index join.

    jaccard(A,B) = |A∩B| / (|A|+|B|−|A∩B|), computed by joining the exploded
    (doc, shingle-hash) relation with itself on the shingle hash — only docs
    sharing ≥1 shingle ever pair up. Exact, so O(sum of posting-list²)
    worst case. ``max_doc_freq`` drops stop-shingles (posting lists longer
    than the cap) from the JOIN side only — boilerplate shingles shared by
    thousands of docs create quadratic buckets while contributing almost no
    discriminative signal. Set sizes still count every shingle, so the
    jaccard denominator stays exact; only |A∩B| becomes a (tight) lower
    bound — candidate pairs with heavy overlap still surface through their
    rarer shingles. At 100 TB this cap is the difference between a bounded
    join and a runaway bucket.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = _doc_shingle_hashes(df, id_col, text_col, shingle_k).cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("h31")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("h31")
        )
        sh = sh.join(rare, "h31")

    a = sh.select(F.col(id_col).alias("id_a"), "h31")
    b = sh.select(F.col(id_col).alias("id_b"), "h31")
    common = (
        a.join(b, "h31")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    num_bits: int = 31,
) -> DataFrame:
    """SimHash fingerprint per doc: bit j of the fingerprint is the sign of
    Σ over shingles of (±1 depending on bit j of the shingle hash).

    One explode + one groupBy with ``num_bits`` sum-aggregates; hamming
    distance between fingerprints approximates shingle-set cosine distance.
    """
    sh = _doc_shingle_hashes(df, id_col, text_col, shingle_k)
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h31"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j in range(num_bits)
    ]
    agg = sh.groupBy(id_col).agg(*bit_sums)
    fp = None
    for j in range(num_bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select(id_col, fp.cast("bigint").alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (JVM-side)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_k: int = 2,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """SimHash near-dup candidates: band the 31-bit fingerprint into
    (max_hamming+1) chunks — any pair within hamming ≤ max_hamming must agree
    exactly on ≥1 chunk (pigeonhole), so candidates come from chunk-equality
    buckets, never a full cross join. ``max_bucket_size`` bounds hot chunk
    buckets (see ``cap_bucket_size``)."""
    fps = simhash_fingerprints(df, id_col, text_col, shingle_k).cache()
    chunks = max_hamming + 1
    bits = 31
    per = (bits + chunks - 1) // chunks
    entries = fps.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * per)
                        .bitwiseAND(F.lit((1 << per) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("__id", "simhash", "ck.chunk", "ck.key")
    entries = cap_bucket_size(entries, ["chunk", "key"], max_bucket_size, log_dropped)
    a, b = entries.alias("a"), entries.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias(
                "hamming"
            ),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _star(e: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). large-star connects
    each node's LARGER neighbors to the minimum of its neighborhood;
    small-star connects the smaller-or-equal neighbors to that minimum.
    Both are one groupBy + one join."""
    if large:
        # symmetric neighborhoods: every edge seen from both endpoints
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    else:
        # key every edge to its larger endpoint
        nbrs = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least(F.col("__mn"), F.col("u")).alias("m"))
    )
    joined = nbrs.join(mins, "u")
    if large:
        out = joined.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            mins.select(F.col("u"), F.col("m").alias("v"))
        )
    return out.where(F.col("u") != F.col("v")).distinct()


#: Most large-star/small-star alternations :func:`_star_fixpoint` runs. The
#: fixpoint takes O(log² n) rounds (Kiveris et al.), a handful on near-dup
#: graphs; running out of them raises instead of returning labels that are
#: not yet components.
_STAR_ROUNDS = 50


def _star_fixpoint(edges: DataFrame) -> DataFrame:
    """Alternate (large-star, small-star) until the edge set is stable.
    Input: distinct (u, v) edges with u != v, lineage already cut.
    Output: the converged star edges — every node of a non-singleton
    component but its min id points at that min id. Raises
    ``RuntimeError`` when :data:`_STAR_ROUNDS` rounds do not converge.

    Convergence check (r14, guide §1.2): ONE aggregation job instead of
    the old pair of ``exceptAll`` counts — the two sides are distinct
    sets, so a (u, v) group with count 1 after a tagged union exists iff
    the symmetric difference is non-empty; ``limit(1)`` short-circuits
    row retrieval. Halves the per-round check cost and drops one
    job/stage barrier per round."""
    for _ in range(_STAR_ROUNDS):
        new_edges = _star(_star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        diff = (
            new_edges.union(edges)
            .groupBy("u", "v")
            .count()
            .where(F.col("count") == 1)
            .limit(1)
        )
        if diff.count() == 0:
            return new_edges
        edges = new_edges
    raise RuntimeError(
        f"large-star/small-star did not converge in {_STAR_ROUNDS} rounds"
    )


#: Driver memory one edge costs on the union-find path of
#: :func:`duplicate_clusters`, measured on 1M random int64 edges on a 4-core
#: x86 host: Python peak (tracemalloc over the fetched Arrow columns, the
#: parent dict and the node/label lists) 240 B at two nodes per edge, the
#: worst case; JVM heap held by the result's local relation (used-heap
#: delta after System.gc()) 86 B at 1.25 nodes per edge, so ~140 B at two.
#: Rounded up. At that size the path took 9-12 s against 28-34 s for the
#: propagation fixpoint on the same edges.
_UNION_FIND_EDGE_BYTES = 400


def _union_find_cap(spark) -> int:
    """Most edges :func:`duplicate_clusters` resolves on the driver: a
    tenth of the session's ``spark.driver.memory`` (the heap
    ``session.local_driver_memory`` sizes from the host, or whatever a
    cluster deployment set) over :data:`_UNION_FIND_EDGE_BYTES`. 9g gives
    ~2.4M edges; Spark's 1g default ~270k."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    mib = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(mem)
    return mib * 2**20 // 10 // _UNION_FIND_EDGE_BYTES


def _union_find(us: list, vs: list) -> tuple[list, list]:
    """Connected components of the edges ``(us[i], vs[i])``: every endpoint
    and the minimum id of its component. Path compression, and the larger
    root always hangs under the smaller, so every root is its component's
    minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while (up := parent[root]) != root:
            root = up
        while (up := parent[x]) != root:
            parent[x] = root
            x = up
        return root

    for u, v in zip(us, vs):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    nodes = list(parent)
    return nodes, [find(x) for x in nodes]


def _null_row(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """The null id's row of :func:`duplicate_clusters`, as min-label
    propagation gives it: none when no ``(u, v)`` edge has a null end,
    else one, labelled with the least label among the null id's non-null
    neighbours (null when it has none)."""
    nbrs = (
        edges.where(F.col("u").isNull())
        .select(F.col("v").alias("node"))
        .union(edges.where(F.col("v").isNull()).select(F.col("u").alias("node")))
    )
    null = F.lit(None).cast(labels.schema["node"].dataType).alias("node")
    return (
        nbrs.join(labels, "node", "left")
        .groupBy(null)
        .agg(F.min("label").alias("label"))
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup pairs into duplicate clusters: connected components
    of the pair graph. Returns (node, label) for every id in ``pairs``,
    self-pair-only ids included, where label = smallest doc id in the
    component — the canonical "keeper". A null id joins no two
    components; it is listed once, with the least label among its non-null
    neighbours.

    The pair plan runs once into a ``localCheckpoint``, which is counted.
    A graph within the cap (:func:`_union_find_cap`) with integer or
    binary-collated string ids (whose Python order is Spark's) is fetched
    through Arrow and resolved by :func:`_union_find` on the driver: three
    jobs (checkpoint, count, fetch) instead of a fixpoint whose per-job
    overhead dwarfs a near-dup graph's work (on ``corpus_curation``'s
    83-edge graphs the op went from 61 jobs to 28). The result is built
    from an Arrow table, which becomes a JVM-side local relation; a Python
    list would become a Python RDD and start Python workers for every
    downstream job.

    Above the cap, or with other id types, alternating large-star/small-star
    (:func:`_star_fixpoint`): O(log² n) rounds whose intermediate edge sets
    stay star-shaped, exact on any component diameter. On 1M random edges
    (4 cores) it cost ~1.3× the min-label propagation it replaced (32.1 vs
    25.2 s), which stopped after 50 rounds with wrong labels on longer
    chains."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    spark = pairs.sparkSession
    edges = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=True)
    # the labels of both paths take the union-widened id type
    id_type = edges.union(edges.select("v", "u")).schema["u"].dataType
    cap = _union_find_cap(spark)
    # counting the materialized checkpoint is a scan; fetching with a limit
    # would shuffle every partition's head into one above the cap
    n = edges.count()
    small = n <= cap and (
        isinstance(id_type, T.IntegralType) or id_type == T.StringType()
    )
    logger.info(
        "duplicate_clusters: %s path, %d edges, cap %d",
        "union-find" if small else "star",
        n,
        cap,
    )
    if small:
        fetched = edges.toArrow()
        u, v = fetched.column("u"), fetched.column("v")
        nulls = bool(u.null_count or v.null_count)
        arrow_type = to_arrow_type(id_type)
        if nulls:
            # a null end joins nothing: the other end stands alone
            u, v = u.cast(arrow_type), v.cast(arrow_type)
            both = pa.table({"u": pc.coalesce(u, v), "v": pc.coalesce(v, u)})
            u, v = both.drop_null().columns
        nodes, roots = _union_find(u.to_pylist(), v.to_pylist())
        table = pa.table(
            {"node": pa.array(nodes, arrow_type), "label": pa.array(roots, arrow_type)}
        )
        schema = T.StructType(
            [T.StructField("node", id_type), T.StructField("label", id_type)]
        )
        labels = spark.createDataFrame(table, schema)
    else:
        # the null row computes the labels a second time: one scan of the
        # checkpoint decides whether it is needed
        nulls = not edges.where(F.col("u").isNull() | F.col("v").isNull()).isEmpty()
        loop_free = edges.where(F.col("u") != F.col("v")).distinct()
        stars = _star_fixpoint(loop_free.localCheckpoint(eager=True))
        # every non-null id not pointing at a smaller one labels itself:
        # component minima, self-pair-only ids, partners of a null id only
        ids = edges.select("u").union(edges.select("v")).where(F.col("u").isNotNull())
        roots = ids.distinct().join(stars.select("u"), "u", "left_anti")
        labels = stars.toDF("node", "label").union(roots.select("u", "u"))
    return labels.union(_null_row(edges, labels)) if nulls else labels


def embedding_near_dup_pairs_exact_baseline(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold, brute force O(n²).

    EXACT BASELINE ONLY — all-pairs crossJoin, a deliberate scale-killer
    kept solely as the verification oracle for the bucketed twin. Composite
    pipelines must call ``embedding_near_dup_pairs_lsh`` (the scale path);
    nothing in this repo routes production flows through this function.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    cos = dot_product(F.col("v_a"), F.col("v_b"))  # unit vectors: dot = cosine
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


#: Back-compat alias — prefer the explicit *_exact_baseline name.
embedding_near_dup_pairs = embedding_near_dup_pairs_exact_baseline


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    bucket_dims: tuple[int, ...] | None = None,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Embedding near-dup at scale: candidates confined to sign-bit LSH
    buckets (equi-join on the bucket id → shuffle on a small key; pairwise
    work ≈ Σ bucket² instead of n²). Approximate recall: true pairs
    straddling a hyperplane are missed — use fewer bits or multi-probe for
    higher recall; exactness is the brute-force variant's job.
    ``max_bucket_size`` bounds hot buckets (see ``cap_bucket_size``)."""
    from .similarity import DEFAULT_BUCKET_DIMS, bucket_id

    dims = bucket_dims or DEFAULT_BUCKET_DIMS
    tagged = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        bucket_id(vec_col, dims).alias("__bucket"),
    )
    tagged = cap_bucket_size(tagged, ["__bucket"], max_bucket_size, log_dropped)
    a = tagged.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("v_a"), "__bucket"
    )
    b = tagged.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("v_b"), "__bucket"
    )
    cos = dot_product(F.col("v_a"), F.col("v_b"))
    return (
        a.join(b, "__bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def dedup_semantic(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.7,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then compute exact
    pairwise cosine ONLY within each cluster and mark every vector that
    has a same-cluster neighbor with a smaller id at cosine >= threshold
    as that neighbor's duplicate (greedy keep-the-smallest — deterministic
    and engine-portable, unlike the paper's arbitrary keep-one).

    Scale shape: this is THE trick that makes embedding dedup tractable at
    corpus scale — the quadratic is confined to clusters (Σ c_i² work,
    shuffled on cluster_id), with ``max_cluster_size`` capping a
    degenerate hot cluster exactly like the LSH bucket cap
    (``cap_bucket_size``). Assignment itself is the broadcast-centroids
    ``kmeans_assign_step`` — the corpus never shuffles for it. Unit-norm
    embeddings assumed (dot = cosine), same contract as the other
    embedding operators.

    Returns (vec_id, cluster_id, dup_of) for duplicates only.
    """
    from .similarity import kmeans_assign_step

    assigned = kmeans_assign_step(vectors, centroids, id_col, vec_col)
    tagged = assigned.select(
        F.col("vec_id").alias("__id"), F.col("cluster_id"), F.col("v").alias("__v")
    )
    if max_cluster_size is not None:
        tagged = cap_bucket_size(tagged, ["cluster_id"], max_cluster_size)
    a = tagged.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("v_a"), "cluster_id"
    )
    b = tagged.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("v_b"), "cluster_id"
    )
    cos = dot_product(F.col("v_a"), F.col("v_b"))
    pairs = (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= F.lit(threshold))
    )
    return pairs.groupBy(
        F.col("id_b").alias("vec_id"), F.col("cluster_id")
    ).agg(F.min("id_a").alias("dup_of"))


def dedup_lines_global(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 1,
) -> DataFrame:
    """C4-style global line deduplication: a (trimmed, lowercased) line
    that occurs in more than ``max_doc_freq`` documents is removed from
    every document EXCEPT its single global winner occurrence — the
    lexicographically smallest (doc, position). Whitespace-only lines are
    exempt (kept everywhere); the boilerplate being targeted is repeated
    content, not formatting.

    Scale shape: explode to (doc, pos, line), one groupBy on the line key
    producing (n_docs, winner) — the winner is min over an integer
    encoding doc*2^20+pos, a plain MIN that a hyper-common line (every
    page's footer) aggregates without any pairwise blowup — then an
    equi-join back and one groupBy per document to reassemble in line
    order. Two shuffle families (line key, doc key), both combiner-
    friendly. The C4 recipe (Raffel et al. 2020, §2.2 "we discarded ...
    keeping one occurrence") at corpus scale.

    Returns (id, n_lines_kept, n_lines_removed, text_clean).
    """
    doc = F.col(id_col)
    lines = F.split(F.col(text_col), "\n")
    ex = df.select(
        doc.alias("__doc"),
        F.posexplode(lines).alias("__pos", "__line"),
    ).withColumn("__key", F.lower(F.trim(F.col("__line"))))
    # Encoded winner is a single BIGINT MIN: doc*2^20 + pos. The encoding
    # is only injective for 0 <= doc < 2^43 and pos < 2^20; outside that a
    # document would silently collide into another's range and corrupt
    # winner selection, so the range is ASSERTED per row (JVM expression,
    # no hot-path Python) rather than assumed.
    in_range = (F.col("__pos") < (1 << 20)) & F.col("__doc").between(
        0, (1 << 43) - 1
    )
    guard = F.assert_true(
        in_range,
        F.lit(
            "dedup_lines_global: winner encoding needs 0 <= doc_id < 2^43 "
            "and < 2^20 lines/doc; input exceeds that — switch the winner "
            "agg to min(struct(doc, pos)) for this corpus"
        ),
    )
    enc = F.when(
        guard.isNull(), F.col("__doc") * (1 << 20) + F.col("__pos")
    )
    ex = ex.withColumn("__enc", enc)
    stats = (
        ex.where(F.col("__key") != "")
        .groupBy("__key")
        .agg(
            F.countDistinct("__doc").alias("__n_docs"),
            F.min("__enc").alias("__winner"),
        )
        .where(F.col("__n_docs") > max_doc_freq)
    )
    kept = (
        ex.join(stats, "__key", "left")
        .withColumn(
            "__keep",
            F.col("__n_docs").isNull() | (F.col("__enc") == F.col("__winner")),
        )
    )
    return (
        kept.groupBy(F.col("__doc").alias(id_col))
        .agg(
            F.sum(F.when(F.col("__keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lines_kept"),
            F.sum(F.when(F.col("__keep"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_lines_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("__pos"), F.col("__line")),
                            )
                        )
                    ),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias("text_clean"),
        )
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Pick the representative of each duplicate cluster by QUALITY, not
    by smallest id: given ``clusters`` (node, label) from
    :func:`duplicate_clusters` and a per-document ``scores`` relation,
    keep the member with the highest score (ties → smallest id). This is
    the curation policy that keeps the cleanest copy of boilerplate-heavy
    near-dup families instead of whichever crawled first.

    Returns one row per cluster: (label, keeper_id, n_members, best_score).
    Scale shape: one join of the cluster membership against the score
    table (both keyed by doc id) + one window per cluster label — cluster
    count ≪ corpus size, membership lists are near-dup families (small by
    construction; a pathological mega-cluster is a dedup-threshold bug,
    not a planner problem).
    """
    from pyspark.sql import Window

    m = clusters.join(
        scores.select(
            F.col(id_col).alias("node"), F.col(score_col).alias("__s")
        ),
        "node",
    )
    w = Window.partitionBy("label").orderBy(
        F.col("__s").desc(), F.col("node").asc()
    )
    return (
        m.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("label")).cast("bigint"),
        )
        .where(F.col("__rn") == 1)
        .select(
            "label",
            F.col("node").alias("keeper_id"),
            "n_members",
            F.col("__s").alias("best_score"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int = 60,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the PPJoin
    family — Xiao, Wang, Lin, Yu, "Efficient Similarity Joins for Near
    Duplicate Detection", WWW 2008): all document pairs whose shingle-set
    Jaccard >= ``threshold_pct``/100, found WITHOUT the all-pairs scan
    and WITHOUT MinHash's false negatives.

    The filter: sort every document's shingles by global rarity
    (document frequency asc, shingle asc) and keep only the first
    p = n - ceil(t*n) + 1 as its PREFIX; two documents can reach
    Jaccard t only if their prefixes share a shingle (pigeonhole on the
    overlap bound), so candidate generation is an equi-join on PREFIX
    shingles — and prefixes hold each document's RAREST shingles, so
    the blocking groups are small by construction (measured on the
    gate corpus: 11,533 share-any-shingle pairs shrink to 165
    candidates at t=0.6, all 25 true pairs kept). Verification then
    counts true intersections per candidate.

    Two further PPJoin prunes run BEFORE verification, both exact:

    - LENGTH filter, inside the candidate join condition: Jaccard >= t
      forces 100*min(na, nb) >= t*max(na, nb) (intersection is at most
      the smaller set, union at least the larger), so wildly mismatched
      sizes never reach the candidate aggregate.
    - POSITIONAL filter: both documents order their shingles by the
      SAME global (df, shingle) total order, so a shared token sits at
      jointly-ordered positions — any common token globally before the
      first prefix match (ia, jb) would itself be an earlier
      prefix-prefix match, a contradiction. Hence
      overlap <= 1 + min(na - ia, nb - jb), and a candidate survives
      only if that bound reaches the required overlap
      alpha = ceil(t*(na+nb)/(100+t)) (the integral form of
      inter/(na+nb-inter) >= t/100). At sf1 this is the difference
      between verifying every share-a-rare-shingle pair and verifying
      only near-duplicates.

    Everything is integer-exact cross-engine: the prefix length uses
    the integral ceiling ((t_num*n + 99) div 100 — a float 0.6*n would
    mis-ceil at multiples of 5), and the threshold test is
    100*inter >= t_num*(na+nb-inter), never a float compare. Returns
    (id_a, id_b, inter, union_n, jaccard_r).

    Scale shape: one shuffle to shingle df, one doc-key window for the
    rarity ranks (data-proportional partitions, bounded groups), the
    prefix-block candidate join, and one pair-count aggregate. MinHash
    LSH (``minhash_lsh_pairs``) stays the probabilistic-recall scale
    path; this is the exact-recall alternative when the threshold is
    high and prefixes stay selective."""
    if not (1 <= threshold_pct <= 99):
        raise ValueError(f"threshold_pct must be in [1, 99], got {threshold_pct}")
    from pyspark.sql import Window

    from ..functions import word_shingles

    # cached: five consumers (df, sizes, rank join, both intersection
    # sides) shuffle this relation on different keys — without the cache
    # the corpus shingle explode re-runs for each (module convention,
    # same as minhash_lsh_pairs)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), k=shingle_k)).alias("tok"),
    ).cache()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sz = toks.groupBy("doc").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("tok").asc())
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("rk", F.row_number().over(w))
        .join(sz, "doc")
    )
    t = int(threshold_pct)
    prefix_len = (
        F.col("n") - F.expr(f"({t} * n + 99) div 100") + F.lit(1)
    )
    prefix = ranked.where(F.col("rk") <= prefix_len).select("doc", "tok", "rk", "n")
    # distinct column names per side: a self-join on a shared lineage
    # resolves pa["tok"] == pb["tok"] to the SAME attribute (trivially
    # true), silently degrading the equi-join to a filtered cross product
    pa = prefix.select(
        F.col("doc").alias("da"),
        F.col("tok").alias("tok_a"),
        F.col("rk").alias("ia"),
        F.col("n").alias("na"),
    )
    pb = prefix.select(
        F.col("doc").alias("db"),
        F.col("tok").alias("tok_b"),
        F.col("rk").alias("jb"),
        F.col("n").alias("nb"),
    )
    matches = pa.join(
        pb,
        (F.col("tok_a") == F.col("tok_b"))
        & (F.col("da") < F.col("db"))
        # length filter: 100*min(na,nb) >= t*max(na,nb)
        & (F.lit(100) * F.least("na", "nb") >= F.lit(t) * F.greatest("na", "nb")),
    )
    # first prefix match = (min ia, min jb): the global token order makes
    # both minima land on the same token, so the pair is coherent
    cand = (
        matches.groupBy("da", "db")
        .agg(
            F.min("ia").alias("ia"),
            F.min("jb").alias("jb"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .withColumn(
            "alpha",
            F.expr(f"({t} * (na + nb) + {100 + t} - 1) div {100 + t}"),
        )
        # positional filter: overlap <= 1 + min(na - ia, nb - jb)
        .where(
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= F.col("alpha")
        )
        .select("da", "db")
    )
    # expand each candidate pair by a's shingles, then equi-join b's
    # shingle relation on (db, tok) — only true intersections survive
    # the join; never a per-pair token cross
    inter = (
        cand.join(toks.select(F.col("doc").alias("da"), "tok"), "da")
        .join(toks.select(F.col("doc").alias("db"), "tok"), ["db", "tok"])
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(sz.select(F.col("doc").alias("da"), F.col("n").alias("na")), "da")
        .join(sz.select(F.col("doc").alias("db"), F.col("n").alias("nb")), "db")
        .withColumn("union_n", (F.col("na") + F.col("nb") - F.col("inter")).cast("bigint"))
        .where(F.lit(100) * F.col("inter") >= F.lit(t) * F.col("union_n"))
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            "inter",
            "union_n",
            F.round(
                F.col("inter").cast("double") / F.col("union_n").cast("double"),
                6,
            ).alias("jaccard_r"),
        )
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Cross-document duplicated-substring spans — the fingerprint
    approximation of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": exact
    suffix-array dedup; here the distributed stand-in is fixed-length
    character windows every ``stride`` chars, md5-fingerprinted). A
    window whose fingerprint appears in ≥2 DISTINCT documents marks a
    duplicated span; per document, overlapping marked spans merge into
    maximal islands (consecutive spans in an island overlap by
    construction, so each island covers the contiguous
    ``[min_off, max_off + window)``).

    Returns one row per (document, island): ``(id, span_start,
    span_chars, n_windows)`` — the spans a curation pass would clip or
    down-weight.

    Scale shape: the window explode is a bounded ×(len/stride) per doc;
    only (id, offset, 16-byte fingerprint) rows shuffle — never text.
    The island merge is a window partitioned BY DOCUMENT (bounded group
    size — a doc's own span list), the plan-safe shape. Stride trades
    recall for cost: stride = window/2 guarantees any duplicated run
    ≥ 2·window chars is caught.

    reference: ABSENT — SURVEY.md §2 extension surface (the substring
    rung of the dedup ladder: exact doc / line / shingle-set /
    semantic / substring).
    """
    if window < 2 or stride < 1:
        raise ValueError(f"bad window/stride: {window}/{stride}")
    from pyspark.sql import Window as W

    wins = (
        df.where(F.length(text_col) >= window)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {window} + 1,"
                    f" {stride}), o -> struct(o as off,"
                    f" md5(substring({text_col}, o, {window})) as h))"
                )
            ).alias("w"),
        )
        .select("doc", F.col("w.off").alias("off"), F.col("w.h").alias("h"))
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    marked = wins.join(dup_h, "h").select("doc", "off")
    byoff = W.partitionBy("doc").orderBy("off")
    prev_end = F.max(F.col("off") + F.lit(window)).over(
        byoff.rowsBetween(W.unboundedPreceding, -1)
    )
    islands = (
        marked.withColumn(
            "new_island",
            F.when(
                prev_end.isNull() | (F.col("off") > prev_end), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                byoff.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc", "island")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + F.lit(window) - F.min("off"))
            .cast("bigint")
            .alias("span_chars"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
    )
    return islands.select(
        F.col("doc").alias(id_col),
        F.col("span_start").cast("bigint").alias("span_start"),
        "span_chars",
        "n_windows",
    )
