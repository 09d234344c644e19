"""Similarity search over embedding columns (array<float>).

Two tiers, as a training-data pipeline needs at 100 TB:

- **brute-force cosine top-k** — exact; queries broadcast against the corpus
  scan, so cost is one corpus pass per query batch. Correctness baseline.
- **LSH-bucketed top-k** — random-hyperplane signs bucket the corpus; each
  query probes only its bucket. Sub-linear candidates, approximate recall.
  The bucket id is a deterministic function of the vector (sign bits against
  fixed hyperplanes), so the corpus side can be pre-bucketed/partitioned at
  write time — the IVF-style layout for a 1000-executor cluster.

All vector math is Catalyst expression trees (zip_with/aggregate folds) —
JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions import as_double_array, dot_product

# Fixed axis-aligned "hyperplanes": sign of dimension d_i. For unit-norm
# random embeddings this is equivalent in distribution to random hyperplanes
# and — critically — reproducible in plain SQL on any engine.
DEFAULT_BUCKET_DIMS: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7)


def _ranked(joined: DataFrame, k: int, round_digits: int) -> DataFrame:
    """Rank by rounded cosine (cross-engine stable) with id tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("corpus_id").asc()
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "cosine_r", "rnk")
    )


def cosine_topk_exact_baseline(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (unit-norm assumed:
    dot = cosine). Queries are broadcast — the corpus never shuffles.

    EXACT BASELINE ONLY — O(corpus × queries) nested loop, kept as the
    verification oracle for the LSH/IVF twins. Composite pipelines must use
    ``cosine_topk_lsh`` / ``ivf_probe_topk`` (sub-linear candidates)."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
    cos = F.round(dot_product(F.col("qvec"), F.col("cvec")), round_digits)
    return _ranked(joined.withColumn("cosine_r", cos), k, round_digits)


#: Back-compat alias — prefer the explicit *_exact_baseline name.
cosine_topk = cosine_topk_exact_baseline


def bucket_id(vec_col: str | Column, dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS) -> Column:
    """Sign-bit bucket: bit i set iff vec[dims[i]] >= 0. 2^len(dims) buckets."""
    v = as_double_array(vec_col)
    out = F.lit(0)
    for i, d in enumerate(dims):
        out = out + F.when(v[d] >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return out


def auto_bucket_dims(
    n_vectors: int,
    target_occupancy: int = 10,
    vec_dim: int = 64,
) -> tuple[int, ...]:
    """Occupancy-tracking hyperplane count — the executable form of the
    r13 sim_knn_graph disposition (docs/SCALE.md), the same move
    bucket_cap_advisor made for the r10 cap rule. 2^len(dims) sign
    buckets is a FIXED denominator, so per-bucket occupancy — and with
    it every bucket-local self-join's quadratic term — grows linearly
    with the corpus under a frozen plane count. Size planes so mean
    occupancy stays ~``target_occupancy``:

        planes = ceil(log2(n_vectors / target_occupancy)),
        clamped to [1, vec_dim]

    Measured (SCALE.md r13 continuation): at a 10x corpus the fixed
    8-plane layout ran 24.7x; the 11 planes this rule picks there ran
    4.6x faster at equal recall (mutual edges within 0.1%) — near-
    linear scaling restored. Deployments call this at build time from
    the corpus count, exactly like sizing shuffle partitions; the
    fixed-plane defaults stay for gate reproducibility."""
    import math

    if n_vectors <= 0:
        return (0,)
    planes = max(1, math.ceil(math.log2(max(1.0, n_vectors / target_occupancy))))
    return tuple(range(min(planes, vec_dim)))


def ivf_write(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS,
) -> None:
    """Persist the corpus partitioned by its LSH bucket id — the IVF layout:
    each of the 2^len(dims) buckets becomes a parquet partition directory,
    so a probe touches only its bucket's files (partition pruning), never
    the full corpus. At 100 TB this is what turns ANN from a full-corpus
    scan per query batch into a handful of partition reads."""
    corpus.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_id(vec_col, dims).alias("bucket"),
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def ivf_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int = 6,
    dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS,
) -> DataFrame:
    """Top-k over an ``ivf_write`` layout: queries are bucketed with the
    same hyperplanes and equi-joined to the corpus on the partition column.
    The broadcast query side makes the join eligible for dynamic partition
    pruning — the scan reads only probed bucket directories. Results are
    identical to single-probe ``lsh_bucketed_topk``."""
    corpus = spark.read.parquet(path).select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cvec"),
        F.col("bucket").cast("int").alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        bucket_id(vec_col, dims).cast("int").alias("bucket"),
    )
    joined = corpus.join(F.broadcast(q), on=["bucket"], how="inner").where(
        F.col("query_id") != F.col("corpus_id")
    )
    cos = F.round(dot_product(F.col("qvec"), F.col("cvec")), round_digits)
    return _ranked(joined.withColumn("cosine_r", cos), k, round_digits)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS,
    round_digits: int = 6,
    probe_flips: int = 0,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    Join is equi on bucket id → shuffle/broadcast on a small key, candidate
    count ≈ n / 2^bits per query. Recall is approximate (neighbors
    straddling a hyperplane are missed); ``probe_flips=1`` additionally
    probes every bucket at hamming distance 1 (multi-probe LSH) — candidate
    count ×(1+bits), recall close to exhaustive for near-threshold pairs.

    ``max_bucket_size`` drops corpus buckets larger than the cap (skew
    guard — e.g. many zero/near-zero vectors landing in one sign bucket);
    see ``dedup.cap_bucket_size``.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cvec"),
        bucket_id(vec_col, dims).alias("bucket"),
    )
    if max_bucket_size is not None:
        from .dedup import cap_bucket_size

        c = cap_bucket_size(c, ["bucket"], max_bucket_size, log_dropped)
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        bucket_id(vec_col, dims).alias("__b0"),
    )
    if probe_flips == 0:
        q = qbase.select("query_id", "qvec", F.col("__b0").alias("bucket"))
    elif probe_flips == 1:
        probes = F.array(
            F.col("__b0"),
            *[F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(len(dims))],
        )
        q = qbase.select(
            "query_id", "qvec", F.explode(probes).alias("bucket")
        )
    else:
        raise ValueError("probe_flips > 1 not supported (candidate blowup)")
    joined = (
        c.join(F.broadcast(q), on=["bucket"], how="inner")
        .where(F.col("query_id") != F.col("corpus_id"))
        # a pair can surface via several probes — dedup before ranking
        .dropDuplicates(["query_id", "corpus_id"])
    )
    cos = F.round(dot_product(F.col("qvec"), F.col("cvec")), round_digits)
    return _ranked(joined.withColumn("cosine_r", cos), k, round_digits)


def knn_graph_mutual(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS,
    round_digits: int = 6,
    probe_flips: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Mutual-kNN graph over the whole corpus (the structure SemDeDup-
    style curation, duplicate clustering, and label propagation build
    on): every vector's multi-probe LSH top-k gives directed edges; an
    edge survives only if BOTH endpoints rank each other (the mutual
    filter that strips hub artifacts). Returns one row per undirected
    mutual edge (id_a < id_b, with the a->b cosine).

    Unlike :func:`lsh_bucketed_topk` (broadcast queries — right when
    queries are a small batch), here queries ARE the corpus, so the
    candidate join is a bucket-keyed SHUFFLE join: both full-corpus
    sides co-locate by bucket id and the per-bucket quadratic is
    bounded by bucket occupancy (``max_bucket_size`` caps skewed
    buckets). The ranking window partitions by query id — a growing
    key, bounded group size: scale-safe. No broadcast of anything
    data-proportional."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cvec"),
        bucket_id(vec_col, dims).alias("bucket"),
    )
    if max_bucket_size is not None:
        from .dedup import cap_bucket_size

        c = cap_bucket_size(c, ["bucket"], max_bucket_size, False)
    qbase = corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        bucket_id(vec_col, dims).alias("__b0"),
    )
    if probe_flips == 0:
        q = qbase.select("query_id", "qvec", F.col("__b0").alias("bucket"))
    elif probe_flips == 1:
        probes = F.array(
            F.col("__b0"),
            *[
                F.col("__b0").bitwiseXOR(F.lit(1 << i))
                for i in range(len(dims))
            ],
        )
        q = qbase.select(
            "query_id", "qvec", F.explode(probes).alias("bucket")
        )
    else:
        raise ValueError("probe_flips > 1 not supported (candidate blowup)")
    joined = (
        c.join(q, on=["bucket"], how="inner")
        .where(F.col("query_id") != F.col("corpus_id"))
        .dropDuplicates(["query_id", "corpus_id"])
    )
    cos = F.round(dot_product(F.col("qvec"), F.col("cvec")), round_digits)
    directed = _ranked(joined.withColumn("cosine_r", cos), k, round_digits)
    fwd = directed.select(
        F.col("query_id").alias("id_a"),
        F.col("corpus_id").alias("id_b"),
        "cosine_r",
    )
    rev = directed.select(
        F.col("corpus_id").alias("id_a"), F.col("query_id").alias("id_b")
    )
    return fwd.where(F.col("id_a") < F.col("id_b")).join(
        rev, ["id_a", "id_b"], "left_semi"
    )


def squared_l2(a: str | Column, b: str | Column) -> Column:
    """Sequential left-fold squared-L2 distance in double precision (same
    determinism contract as ``functions.dot_product``)."""
    diffs = F.zip_with(
        as_double_array(a), as_double_array(b), lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_assign_step(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """One Lloyd's-algorithm assignment step, distributed: each vector joins
    the (broadcast) centroid set, computes exact squared-L2 distances as a
    Catalyst fold, and keeps its nearest centroid — ties broken by the
    smaller centroid id via (distance, id) ranking, so the assignment is
    fully deterministic.

    This is the building block of clustering-based data selection at scale:
    k centroids are tiny (k × dim doubles) and broadcast; the corpus scan
    never shuffles for the assignment itself — the only shuffle is whatever
    aggregation consumes the assignment (e.g. the centroid-update mean).
    The k-means++ seeding / iteration driver is intentionally out of scope;
    fixed deterministic seeds keep the step oracle-checkable.
    """
    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    c = centroids.select(
        F.col(centroid_id_col).alias("cluster_id"), F.col(vec_col).alias("cv")
    )
    d = v.join(F.broadcast(c)).withColumn("dist2", squared_l2("v", "cv"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cluster_id").asc()
    )
    return (
        d.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("vec_id", "cluster_id", "dist2", "v")
    )


def kmeans_update_step(
    assigned: DataFrame,
    vec_col: str = "v",
    cluster_col: str = "cluster_id",
    dim: int = 64,
) -> DataFrame:
    """Centroid update — the shuffle half of one Lloyd iteration: the
    element-wise mean of each cluster's vectors, as ``dim`` independent
    per-cluster aggregates (``sum(vec[i])``, one decimal-routed column per
    dimension) plus the member count.

    Scale shape: the alternative posexplode layout multiplies shuffle rows
    by ``dim`` (n x 64 rows through the exchange); this form keeps the
    shuffle at k x dim partial-aggregate cells per map task (map-side
    combine), so a 100 TB corpus moves only kilobytes per partition. Sums
    route through DECIMAL(28,15) — exact, order-independent — then divide
    by the count in double, so the mean is bit-identical on any engine.
    Empty clusters emit no row (no assignments to aggregate); the
    iteration driver decides re-seeding policy.
    """
    vec = as_double_array(vec_col)
    sums = [
        F.sum(F.element_at(vec, i + 1).cast("decimal(28,15)"))
        .cast("double")
        .alias(f"__s{i}")
        for i in range(dim)
    ]
    g = assigned.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n"), *sums
    )
    centroid = F.array(*[F.col(f"__s{i}") / F.col("n") for i in range(dim)])
    return g.select(cluster_col, "n", centroid.alias("centroid"))


def kmeans_iterate(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    iterations: int = 2,
    dim: int = 64,
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Full Lloyd's loop: ``iterations`` unrolled rounds of
    ``kmeans_assign_step`` + ``kmeans_update_step``, closing the loop the
    two halves leave open (the assignment feeds the update whose centroids
    feed the next assignment).

    Scale shape: each round is one broadcast (k × dim doubles) + one
    k×dim-cell partial aggregate — the corpus shuffles only its aggregate
    cells, never its vectors. Between rounds the k-row centroid frame is
    ``localCheckpoint``-ed (eager): the new broadcast reads k rows instead
    of replaying the whole prior round's plan, the same lineage-cut
    contract as ``graph.pagerank``. Every arithmetic step is the
    deterministic building-block one (sequential-fold distances,
    decimal-routed means), so the final centroids are bit-identical on
    any engine and any partitioning.

    Empty clusters drop out of the centroid set (no assignments → no
    update row) and stay out — re-seeding policy is the caller's.
    Returns the LAST update's (cluster_id, n, centroid).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    cur = centroids
    upd = None
    for i in range(iterations):
        assigned = kmeans_assign_step(
            vectors, cur, id_col, vec_col, centroid_id_col
        )
        upd = kmeans_update_step(
            assigned, vec_col="v", cluster_col="cluster_id", dim=dim
        )
        if i + 1 < iterations:
            cur = upd.select(
                F.col("cluster_id").alias(centroid_id_col),
                F.col("centroid").alias(vec_col),
            ).localCheckpoint(eager=True)
    return upd


def sq_int8_stats(corpus: DataFrame, vec_col: str, dim: int = 64) -> DataFrame:
    """The codebook of SYMMETRIC int8 scalar quantization: one row with
    ``gmax`` = the largest absolute component value across the whole
    corpus, computed in a single map-side-combined pass (per-dimension
    ``max(abs(.))`` aggregates folded with ``greatest``).

    Symmetric (no per-dimension offset) is deliberate: with an offset
    codebook ``q ≈ a·v + b`` the quantized inner product picks up ``b``
    cross-terms and stops tracking the true dot product (offset SQ is an
    L2/decode codebook, not a dot-product one). With one global scale,
    ``dot(q_a, q_b) = (127/gmax)² · dot(a, b)`` up to rounding — ranking
    by the INTEGER dot is ranking by the true dot. At 100 TB the stats
    pass is the only full-corpus scan quantization needs, and its result
    is 8 bytes — broadcast everywhere after."""
    vec = as_double_array(vec_col)
    per_dim = [
        F.max(F.abs(F.element_at(vec, i + 1))).alias(f"__m{i}")
        for i in range(dim)
    ]
    one = corpus.agg(*per_dim)
    gmax = (
        F.greatest(*[F.col(f"__m{i}") for i in range(dim)])
        if dim > 1
        else F.col("__m0")
    )
    return one.select(gmax.alias("gmax"))


def sq_int8_quantize(
    df: DataFrame, vec_col: str, stats: DataFrame, out_col: str = "qvec"
) -> DataFrame:
    """Quantize a float vector column to int8 codes in [-127, 127]:
    ``q_d = round(v_d * 127 / gmax)`` (0 if the corpus is all-zero). The
    one-row stats frame is broadcast-crossJoined — the vector side never
    shuffles. Rounding is HALF-AWAY-FROM-ZERO in both Spark (HALF_UP on
    BigDecimal) and ANSI engines, so the codes — and every integer
    distance computed from them — are bit-exact cross-engine.

    This is the first rung of vector-index compression (FAISS ``SQ8``
    family): 4x smaller than float32, integer SIMD distance, recall loss
    ~0 at 64-256 dims — at 100 TB the difference between an in-memory and
    a disk-bound ANN corpus."""
    vec = as_double_array(vec_col)
    q = F.transform(
        vec,
        lambda x: F.when(F.col("__gmax") > 0, F.round(x * F.lit(127.0) / F.col("__gmax"), 0))
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(stats.select(F.col("gmax").alias("__gmax"))))
        .withColumn(out_col, q)
        .drop("__gmax")
    )


def sq_int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k by int8-quantized dot product: corpus and queries
    share one symmetric codebook (``sq_int8_stats`` over the corpus),
    quantize to int8, and rank by the INTEGER dot product — exact integer
    arithmetic, so the ranking needs no float rounding tolerance and is
    bit-stable on any engine and any partitioning (ties broken by corpus
    id).

    Plan shape mirrors ``cosine_topk_exact_baseline`` (broadcast queries,
    corpus never shuffles) but the scan side runs entirely in integer
    codes; compose with ``bucket_id``/``ivf_write`` partition pruning for
    the sub-linear candidate walk."""
    stats = sq_int8_stats(corpus, vec_col, dim)
    c = sq_int8_quantize(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col)),
        vec_col,
        stats,
        "cq",
    ).select("corpus_id", "cq")
    q = sq_int8_quantize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        vec_col,
        stats,
        "qq",
    ).select("query_id", "qq")
    joined = c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
    prod = F.zip_with(
        F.col("qq"), F.col("cq"), lambda x, y: (x * y).cast("long")
    )
    qdot = F.aggregate(prod, F.lit(0).cast("long"), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("corpus_id").asc()
    )
    return (
        joined.withColumn("qdot", qdot)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "qdot", "rnk")
    )


def centroid_drift_report(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Per-group embedding centroids + pairwise centroid cosine — the
    domain/label-drift screen an embedding pipeline runs before mixing
    sources or after re-training: groups whose centroids sit close
    (cosine → 1) are semantically entangled; a centroid that moved is a
    distribution shift. One row per unordered group pair (a < b) with
    both member counts and the rounded centroid cosine.

    Scale shape: the centroid is the same k x dim decimal-routed
    partial-aggregate shape as ``kmeans_update_step`` — map-side combine
    keeps the shuffle at (groups x dim) cells per task, the corpus is
    scanned ONCE and never pair-joined; the pairwise cosine runs on the
    <= groups² centroid rows (tiny). The decimal sums make the means
    order-independent, so the report is oracle-exact.
    """
    from ..functions import as_double_array

    vec = as_double_array(vec_col)
    sums = [
        F.sum(F.element_at(vec, i + 1).cast("decimal(28,15)"))
        .cast("double")
        .alias(f"__s{i}")
        for i in range(dim)
    ]
    g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), *sums
    )
    cent = g.select(
        "g",
        "n",
        F.array(*[F.col(f"__s{i}") / F.col("n") for i in range(dim)]).alias(
            "c"
        ),
    )
    a = cent.select(
        F.col("g").alias("group_a"), F.col("n").alias("n_a"), F.col("c").alias("__ca")
    )
    b = cent.select(
        F.col("g").alias("group_b"), F.col("n").alias("n_b"), F.col("c").alias("__cb")
    )
    j = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    dot = F.aggregate(
        F.zip_with("__ca", "__cb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return j.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(dot / (norm("__ca") * norm("__cb")), round_digits).alias(
            "cos_r"
        ),
    ).orderBy("group_a", "group_b")


def recall_report(
    approx_topk: DataFrame, exact_topk: DataFrame
) -> DataFrame:
    """Recall@k of an approximate ANN ranking against the exact baseline —
    the quality dial every ANN deployment tunes against cost: one row per
    query_id with hits, k, and recall, plus deterministic per-query
    output ordering.

    Both inputs are (query_id, corpus_id, ..., rnk) top-k frames (any of
    ``lsh_bucketed_topk`` / ``ivf_topk`` / ``sq_int8_topk`` vs
    ``cosine_topk_exact_baseline``). The join is a LEFT SEMI from exact to
    approx on (query_id, corpus_id) — per-query set intersection sized k,
    never the corpus. Recall is hits/k in exact integer counts plus one
    rounded division, so the report itself is oracle-stable.

    At scale both sides are tiny (queries × k rows); the report costs two
    hash aggregations over them — measuring recall on a 100 TB corpus is
    free compared to producing either ranking."""
    e = exact_topk.select("query_id", "corpus_id")
    a = approx_topk.select("query_id", "corpus_id")
    hits = (
        e.join(a, ["query_id", "corpus_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    per_q = (
        e.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        .join(hits, ["query_id"], "left")
        .na.fill({"hits": 0})
    )
    return per_q.select(
        "query_id",
        "hits",
        "k",
        F.round(F.col("hits") / F.col("k"), 6).alias("recall_r"),
    ).orderBy("query_id")


def ivf_sq_topk(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS,
    probe_flips: int = 0,
) -> DataFrame:
    """The production ANN layout, composed: IVF partition pruning (probe
    only the query's sign-bucket directory) over SYMMETRIC int8-quantized
    codes (4x smaller scan, integer-exact ranking). This is
    FAISS-IVF+SQ8's shape on a data lake: the corpus is written once,
    partitioned by bucket, carrying its quantized codes; a probe reads
    one bucket's files and ranks by integer dot product.

    ``probe_flips=1`` is the recall dial (multi-probe IVF): each query
    additionally probes the buckets at hamming distance 1 from its own
    — candidate volume x(1+bits) bucket directories, recall close to
    exhaustive for hyperplane-straddling neighbors; pairs surfacing via
    several probes dedup before ranking (same contract as
    ``lsh_bucketed_topk``). Measure the trade-off with
    ``recall_report`` — the ``sim_ivf_recall`` gate query reports
    recall@10 at both settings.

    The codebook (one global scale) comes from the FULL corpus — codes
    must be comparable across buckets, and queries quantize with the same
    scale. Results equal ``sq_int8_topk`` restricted to same-bucket
    candidates; ties break on corpus id.

    Index reuse is keyed on a corpus FINGERPRINT — row count, max id,
    and an order-independent CONTENT sum (the per-row murmur hash of
    (id, vector) summed) — not on the path alone: if the data behind
    ``path``'s source corpus changes (regenerated testdata, a different
    filter, same-cardinality vector edits), the stale codes and
    codebook are detected and rebuilt instead of silently reused. One
    cheap aggregation pass; the fingerprint travels as a 1-row parquet
    written through the same Spark filesystem layer as the index itself
    (no driver-local ``os.path`` assumptions — works on HDFS/object
    stores too)."""
    fp_path = path.rstrip("/") + "_fingerprint"
    fp_now_row = corpus.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max(F.col(id_col)).cast("bigint").alias("max_id"),
        F.sum(F.hash(F.col(id_col), F.col(vec_col)).cast("bigint"))
        .cast("bigint")
        .alias("content"),
    ).first()
    fp_now = (fp_now_row["n"], fp_now_row["max_id"], fp_now_row["content"])
    fp_old = None
    # Ask the path's Hadoop FileSystem first: reading a fingerprint that was
    # never written fails analysis and prints a FileNotFoundException trace.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(fp_path)
    if jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        try:
            r = spark.read.parquet(fp_path).first()
            fp_old = (r["n"], r["max_id"], r["content"])
        except Exception:
            fp_old = None
    if fp_old != fp_now:
        stats = sq_int8_stats(corpus, vec_col, dim)
        coded = sq_int8_quantize(corpus, vec_col, stats, "qvec_i8")
        coded.select(
            F.col(id_col),
            F.col("qvec_i8"),
            bucket_id(vec_col, dims).alias("bucket"),
        ).write.mode("overwrite").partitionBy("bucket").parquet(path)
        stats.write.mode("overwrite").parquet(path.rstrip("/") + "_codebook")
        spark.createDataFrame(
            [(int(fp_now[0]), int(fp_now[1]), int(fp_now[2]))],
            "n bigint, max_id bigint, content bigint",
        ).coalesce(1).write.mode("overwrite").parquet(fp_path)
    coded_corpus = spark.read.parquet(path).select(
        F.col(id_col).alias("corpus_id"),
        F.col("qvec_i8").alias("cq"),
        F.col("bucket").cast("int").alias("bucket"),
    )
    stats = spark.read.parquet(path.rstrip("/") + "_codebook")
    qbase = sq_int8_quantize(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col),
            bucket_id(vec_col, dims).cast("int").alias("__b0"),
        ),
        vec_col,
        stats,
        "qq",
    )
    if probe_flips == 0:
        q = qbase.select("query_id", "qq", F.col("__b0").alias("bucket"))
    elif probe_flips == 1:
        probes = F.array(
            F.col("__b0"),
            *[
                F.col("__b0").bitwiseXOR(F.lit(1 << i))
                for i in range(len(dims))
            ],
        )
        q = qbase.select(
            "query_id", "qq", F.explode(probes).alias("bucket")
        )
    else:
        raise ValueError("probe_flips > 1 not supported (candidate blowup)")
    joined = (
        coded_corpus.join(F.broadcast(q), on=["bucket"])
        .where(F.col("query_id") != F.col("corpus_id"))
        # a pair can surface via several probes — dedup before ranking
        .dropDuplicates(["query_id", "corpus_id"])
    )
    prod = F.zip_with(
        F.col("qq"), F.col("cq"), lambda x, y: (x * y).cast("long")
    )
    qdot = F.aggregate(prod, F.lit(0).cast("long"), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("corpus_id").asc()
    )
    return (
        joined.withColumn("qdot", qdot)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "qdot", "rnk")
    )


def _pq_subdist(vec, cw, s: int, sub: int) -> Column:
    """Exact integer L2^2 between subspace ``s`` of two int8 code arrays
    (dims s*sub+1 .. (s+1)*sub, 1-based): an explicit sum of element_at
    squared differences — all BIGINT, bit-stable on any engine, and flat
    (no lambda machinery) so a 32-subspace plan stays codegen-friendly."""
    terms = None
    for d in range(sub):
        i = s * sub + d + 1
        diff = (
            F.element_at(vec, i).cast("long")
            - F.element_at(cw, i).cast("long")
        )
        t = diff * diff
        terms = t if terms is None else terms + t
    return terms


def _pq_codes_and_tables(c, q, m, sub, n_codes, pack):
    """Shared PQ core: deterministic hash-sampled codebook, corpus
    encoding (argmin composite per subspace), and per-query j-sorted ADC
    distance tables. ``c`` is (corpus_id, cq) and ``q`` is (query_id,
    qq), both already quantized with one shared SQ8 codebook. Extracted
    verbatim from ``pq_topk`` so ``ivfpq_topk`` composes the identical
    encode path — outputs are bit-identical to the pre-refactor code."""
    from ..functions import stable_hash60

    cb = (
        c.withColumn(
            "h",
            stable_hash60(
                F.concat(F.lit("pq:"), F.col("corpus_id").cast("string"))
            ),
        )
        .orderBy(F.col("h").asc(), F.col("corpus_id").asc())
        .limit(n_codes)
    )
    w_cb = Window.orderBy(F.col("h").asc(), F.col("corpus_id").asc())
    cb = cb.withColumn("j", F.row_number().over(w_cb)).select(
        "j", F.col("cq").alias("cw")
    )
    # encode: corpus x broadcast codebook, min composite per subspace
    enc = c.join(F.broadcast(cb)).select(
        "corpus_id",
        *[
            (_pq_subdist(F.col("cq"), F.col("cw"), s, sub) * pack + F.col("j"))
            .alias(f"comp{s}")
            for s in range(m)
        ],
    )
    codes = enc.groupBy("corpus_id").agg(
        *[
            (F.min(f"comp{s}") % pack).cast("int").alias(f"c{s}")
            for s in range(m)
        ]
    )
    # query ADC tables: one (query, j) row per codeword, then j-sorted
    # arrays so element_at(dt_s, code) is the table lookup
    dt_rows = q.join(F.broadcast(cb)).select(
        "query_id",
        "j",
        *[
            _pq_subdist(F.col("qq"), F.col("cw"), s, sub).alias(f"d{s}")
            for s in range(m)
        ],
    )
    qdt = dt_rows.groupBy("query_id").agg(
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("j", F.col(f"d{s}").alias("d")))
                ),
                lambda e: e["d"],
            ).alias(f"dt{s}")
            for s in range(m)
        ]
    )
    return codes, qdt


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    m: int = 32,
    n_codes: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring —
    the remaining rung of the FAISS compression ladder after SQ8
    (``sq_int8_topk``) and IVF (``ivf_sq_topk``): split each int8 vector
    into ``m`` subspaces, represent each subspace by the id of its
    nearest codeword, and score a query against a corpus vector as the
    SUM of per-subspace distances looked up from the query's
    precomputed m x n_codes table (Jegou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Everything is exact integer arithmetic on the shared SQ8 codes, so
    encoding, distance tables, and the ADC ranking are bit-identical
    cross-engine: the codebook is a deterministic hash-sample of
    ``n_codes`` corpus vectors (k-means++-style seeding without the
    refinement rounds — the Lloyd loop in ``kmeans_iterate`` is the
    upgrade path), and argmin ties break on the lowest codeword id via
    a composite ``dist*pack + j`` min (pack = 100 for <=99 codewords,
    1000 above — the historical settings keep their exact outputs).

    Scale shape: the codebook is a TakeOrderedAndProject (n_codes rows)
    broadcast everywhere; encoding joins each corpus row against the
    broadcast codebook and min-reduces the m composites per row group —
    map-side combinable on the unique corpus id, so the shuffle ships
    one m-code row per vector, never the candidate pairs; queries carry
    their distance tables as n_codes-sorted arrays; the only other
    shuffle is the final per-query top-k rank (WindowGroupLimit,
    map-side partial). Deliberately NOT the one-row collected-codebook
    fold: inlining n_codes x m fold expressions into a single
    projection explodes Catalyst's expression tree (measured: the
    m=32 x 64-codeword variant never finished planning)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_codes < 2 or n_codes > 999:
        raise ValueError(f"n_codes must be in [2, 999], got {n_codes}")
    # argmin ties pack as dist*pack + codeword id; the pack base just has
    # to exceed the largest id, and keeping 100 for the historical <=99
    # settings leaves their gate-signed outputs bit-identical
    pack = 100 if n_codes <= 99 else 1000
    sub = dim // m
    stats = sq_int8_stats(corpus, vec_col, dim)
    c = sq_int8_quantize(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col)),
        vec_col,
        stats,
        "cq",
    ).select("corpus_id", "cq")
    q = sq_int8_quantize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        vec_col,
        stats,
        "qq",
    ).select("query_id", "qq")
    codes, qdt = _pq_codes_and_tables(c, q, m, sub, n_codes, pack)
    adc = None
    for s in range(m):
        term = F.element_at(F.col(f"dt{s}"), F.col(f"c{s}"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("corpus_id").asc()
    )
    return (
        codes.join(
            F.broadcast(qdt), F.col("query_id") != F.col("corpus_id")
        )
        .withColumn("adc", adc.cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "adc", "rnk")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    m: int = 32,
    n_codes: int = 64,
    dims: tuple[int, ...] = DEFAULT_BUCKET_DIMS,
    probe_flips: int = 1,
) -> DataFrame:
    """IVF+PQ composite ANN — the production FAISS index shape
    (IVFADC, Jegou et al. TPAMI 2011 §IV): coarse sign-bucket cells
    prune WHICH corpus vectors a query scores (``ivf_sq_topk``'s
    partition-pruning contract), and PQ codes + asymmetric distance
    tables compress HOW each survivor is scored (``pq_topk``'s
    memory contract). This completes the compression/pruning ladder
    SQ8 -> IVF+SQ8 -> PQ -> IVF+PQ: at 100 TB the coarse cells turn a
    full-corpus ADC sweep into a handful of cell reads, and the m-byte
    codes keep each cell's candidates in memory.

    Same determinism contract as both parents: one shared SQ8 codebook,
    hash-sampled PQ codebook, exact integer encode/table/ADC arithmetic,
    argmin and ranking ties on ascending ids — bit-stable cross-engine.
    ``probe_flips`` is the recall dial inherited from ``ivf_sq_topk``
    (0 = own cell only; 1 = + all hamming-1 cells, the multi-probe
    setting that recovers hyperplane-straddling neighbours); the
    ``sim_ivfpq_recall`` gate query measures recall@10 at both.

    Scale shape: the corpus-side work is ``pq_topk``'s encode (broadcast
    codebook, map-side argmin combine, one m-code row per vector) plus a
    bucket id computed in the same projection; queries broadcast with
    their distance tables and probe list; the candidate join is a
    broadcast-hash equi-join ON BUCKET (never the all-pairs cross join
    pq_topk accepts), followed by per-pair dedup and the per-query top-k
    window. The reference exposes dense brute-force only
    (cae/src/execution.cpp:23-120); this is the composed scale path."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_codes < 2 or n_codes > 999:
        raise ValueError(f"n_codes must be in [2, 999], got {n_codes}")
    if probe_flips not in (0, 1):
        raise ValueError("probe_flips > 1 not supported (candidate blowup)")
    pack = 100 if n_codes <= 99 else 1000
    sub = dim // m
    stats = sq_int8_stats(corpus, vec_col, dim)
    c = sq_int8_quantize(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col)),
        vec_col,
        stats,
        "cq",
    ).select("corpus_id", "cq", bucket_id(vec_col, dims).alias("bucket"))
    q = sq_int8_quantize(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col),
            bucket_id(vec_col, dims).alias("__b0"),
        ),
        vec_col,
        stats,
        "qq",
    ).select("query_id", "qq", "__b0")
    codes, qdt = _pq_codes_and_tables(
        c.select("corpus_id", "cq"), q.select("query_id", "qq"),
        m, sub, n_codes, pack,
    )
    # carry each corpus vector's cell onto its code row (id-keyed join —
    # codes is one row per corpus_id by construction)
    codes = codes.join(
        c.select("corpus_id", "bucket"), "corpus_id"
    )
    if probe_flips == 0:
        probes = q.select("query_id", F.col("__b0").alias("bucket"))
    else:
        arr = F.array(
            F.col("__b0"),
            *[
                F.col("__b0").bitwiseXOR(F.lit(1 << i))
                for i in range(len(dims))
            ],
        )
        probes = q.select("query_id", F.explode(arr).alias("bucket"))
    qside = probes.join(qdt, "query_id")
    adc = None
    for s_ in range(m):
        term = F.element_at(F.col(f"dt{s_}"), F.col(f"c{s_}"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("corpus_id").asc()
    )
    return (
        codes.join(F.broadcast(qside), "bucket")
        .where(F.col("query_id") != F.col("corpus_id"))
        # a pair can surface via several probes — dedup before ranking
        .dropDuplicates(["query_id", "corpus_id"])
        .withColumn("adc", adc.cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "adc", "rnk")
    )


def train_ivf_directory(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    iterations: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Trained coarse quantizer for IVF — k-means cell centroids, the way
    FAISS trains its IVF directory (Jegou et al. TPAMI 2011 §IV train the
    coarse quantizer by k-means; the r8 sign-cell directory measured
    0.15–0.47 recall@10 at 16 cells BECAUSE it was untrained — sign
    hyperplanes split the corpus without regard to its density).

    Seeds are the deterministic first ``n_cells`` rows by id;
    ``iterations`` full Lloyd rounds refine them (``kmeans_iterate`` —
    broadcast assignment + decimal-routed mean update, every step
    bit-stable cross-engine). Returns (cluster_id, centroid) with
    centroid an exact double array.

    Scale shape: training touches the corpus ``iterations`` times with a
    broadcast k×dim assignment and a k×dim-cell partial aggregate — no
    vector ever shuffles; the directory itself is k rows, broadcast
    everywhere downstream. Empty cells drop out during training (Lloyd
    semantics) — callers probe whatever cells survive."""
    seeds = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
    )
    upd = kmeans_iterate(
        corpus, seeds, id_col, vec_col, iterations=iterations, dim=dim
    )
    return upd.select("cluster_id", F.col("centroid"))


def nearest_cells(
    queries: DataFrame,
    cells: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 4,
) -> DataFrame:
    """Multi-probe cell selection against a trained IVF directory: each
    query ranks every cell centroid by exact squared-L2 (broadcast k×dim
    join, ties on ascending cluster_id) and keeps its ``nprobe`` nearest
    — the trained-directory analogue of the sign-cell hamming-1 flips,
    with the probe count an explicit dial instead of a bit-geometry
    accident. Returns (query_id, bucket)."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")
    )
    c = cells.select("cluster_id", F.col("centroid").alias("cv"))
    d = qv.join(F.broadcast(c)).withColumn("dist2", squared_l2("v", "cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("cluster_id").asc()
    )
    return (
        d.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= nprobe)
        .select("query_id", F.col("cluster_id").alias("bucket"))
    )


def ivfpq_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    m: int = 32,
    n_codes: int = 64,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iterations: int = 2,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ with a TRAINED coarse directory — ``ivfpq_topk`` with the
    sign-cell bucket function replaced by k-means cells
    (``train_ivf_directory``) and hamming-flip multi-probe replaced by
    nearest-``nprobe``-cells (``nearest_cells``). This is the actual
    FAISS IVFADC construction; the sign-cell variant is its
    training-free degenerate form, and the ``sim_ivfpq_recall`` gate
    measures what training buys on the same grid. Note recall@k is not
    strictly monotone in ``nprobe``: probing more cells widens the
    candidate pool, but ADC scores carry quantization error, so an
    extra candidate can displace a true neighbour from the top-k
    (measured 0.68 @ nprobe=1 vs 0.67 @ nprobe=4 on the 50-doc corpus;
    0.65 vs 0.68 at sf0.01).

    Determinism: coarse training/assignment run on the raw vectors in
    exact double arithmetic (the kmeans gate family's contract); PQ
    encode/tables/ADC run on the shared SQ8 integer codes (pq_topk's
    contract) — every ranking is bit-stable cross-engine. Each corpus
    vector lives in exactly one cell and a query's probe cells are
    distinct, so no candidate dedup is needed (the flip variant's
    dropDuplicates handles a geometry artifact this construction
    doesn't have).

    Scale shape: training is ``train_iterations`` broadcast-assign +
    k×dim-cell aggregate passes; the directory broadcasts; candidate
    selection is a broadcast-hash equi-join on cell id; scoring is
    table-lookup integer sums. The one new cost vs the sign variant is
    the training passes — paid once per corpus, amortized over every
    query batch, exactly the FAISS deployment economics."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_codes < 2 or n_codes > 999:
        raise ValueError(f"n_codes must be in [2, 999], got {n_codes}")
    pack = 100 if n_codes <= 99 else 1000
    sub = dim // m
    if cells is None:
        cells = train_ivf_directory(
            corpus, id_col, vec_col,
            n_cells=n_cells, iterations=train_iterations, dim=dim,
        )
        # one k-row directory reused by assignment + probes; cut the
        # training lineage so both consumers broadcast data, not the
        # Lloyd plan (callers probing several nprobe settings pass a
        # pre-trained ``cells`` to pay training once)
        cells = cells.localCheckpoint(eager=True)
    stats = sq_int8_stats(corpus, vec_col, dim)
    c = sq_int8_quantize(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col)),
        vec_col,
        stats,
        "cq",
    ).select("corpus_id", "cq")
    q = sq_int8_quantize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        vec_col,
        stats,
        "qq",
    ).select("query_id", "qq")
    codes, qdt = _pq_codes_and_tables(c, q, m, sub, n_codes, pack)
    assign = kmeans_assign_step(
        corpus,
        cells.select(
            F.col("cluster_id").alias("centroid_id"),
            F.col("centroid").alias(vec_col),
        ),
        id_col,
        vec_col,
    )
    codes = codes.join(
        assign.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("cluster_id").alias("bucket"),
        ),
        "corpus_id",
    )
    probes = nearest_cells(queries, cells, id_col, vec_col, nprobe=nprobe)
    qside = probes.join(qdt, "query_id")
    adc = None
    for s_ in range(m):
        term = F.element_at(F.col(f"dt{s_}"), F.col(f"c{s_}"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("corpus_id").asc()
    )
    return (
        codes.join(F.broadcast(qside), "bucket")
        .where(F.col("query_id") != F.col("corpus_id"))
        .withColumn("adc", adc.cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "adc", "rnk")
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    shortlist: int = 100,
    dim: int = 64,
    m: int = 32,
    n_codes: int = 64,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iterations: int = 2,
    cells: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """IVF+PQ shortlist + EXACT re-rank — the re-rank rung of the ANN
    ladder (VERDICT r12 item 4). Pure PQ/ADC recall@10 plateaus at
    0.65–0.71 on this corpus (sim_pq_recall / sim_ivfpq_recall: the
    residual is quantization error, not directory pruning), and the
    standard production fix (FAISS ``IndexRefine``; also the re-rank
    stage of every two-tower retrieval stack) is exactly this: take the
    top-``shortlist`` candidates by compressed ADC score, then re-score
    ONLY those with the exact dot product on the raw vectors and keep
    the true top-``k``. Quantization error now only matters if it
    pushes a true neighbour out of the whole shortlist, so recall
    approaches the directory's pruning-only ceiling while the exact
    arithmetic touches ``queries x shortlist`` rows instead of the
    corpus.

    Scale shape: ``ivfpq_topk_trained``'s plan is unchanged (broadcast
    directory, bucket equi-join, integer ADC) with only the per-query
    window widened k -> shortlist; the re-rank is ONE keyed equi-join
    of the (queries x shortlist)-row candidate list against the corpus
    raw vectors on the corpus id — at 100 TB that is a point-lookup
    join against the embeddings table, broadcast-able on the candidate
    side, no new shuffle shape. Output schema + ranking contract match
    ``cosine_topk_exact_baseline`` (rounded cosine desc, id
    tie-break), so ``recall_report`` composes directly and the DuckDB
    oracle re-scores with the same ``list_reduce`` fold.

    Reference exposes dense brute-force only
    (cae/src/execution.cpp:23-120); this rung is the repo's ANN
    extension family."""
    cand = ivfpq_topk_trained(
        corpus,
        queries,
        id_col,
        vec_col,
        k=shortlist,
        dim=dim,
        m=m,
        n_codes=n_codes,
        n_cells=n_cells,
        nprobe=nprobe,
        train_iterations=train_iterations,
        cells=cells,
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # The candidate list is (queries x shortlist) rows — the small side
    # by construction. Pin it as the broadcast build side: cand derives
    # from a window over a join, so Catalyst's static size estimate is
    # far above the broadcast threshold and, without the hint, a
    # sort-merge join would shuffle the ENTIRE corpus by id for what is
    # a point-lookup of ~queries*shortlist ids (the scale contract in
    # the docstring). The corpus side streams; no corpus shuffle.
    joined = (
        F.broadcast(cand.select("query_id", "corpus_id"))
        .join(c, "corpus_id")
        .join(F.broadcast(q), "query_id")
    )
    cos = F.round(
        dot_product(F.col("qvec"), F.col("cvec")), round_digits
    )
    return _ranked(joined.withColumn("cosine_r", cos), k, round_digits)


def kcenter_greedy(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 6,
    quant: int = 1_000_000,
) -> DataFrame:
    """Farthest-point sampling (k-center greedy, the 2-approximation of
    Gonzalez 1985): pick the min-id seed, then ``k-1`` times pick the
    vector farthest from everything selected so far — the diversity
    coreset a curation pipeline uses to pick maximally-spread exemplars
    (seed sets for active learning, prototype picks per domain,
    "cover the embedding space with k docs").

    Determinism contract: components quantize to
    ``round(x·quant)`` BIGINTs once, so every distance is an exact
    integer Σ(Δq)² (order-independent; |q|~5e6 over 64 dims stays far
    under BIGINT), and the argmax tie-breaks on ascending id — the
    whole trajectory is reproducible on any engine/partitioning.

    Scale shape: the algorithm state between rounds is ``(id, min_d2)``
    — 16 bytes a row, localCheckpoint-ed each round so round r+1 reads
    materialized state instead of replaying rounds 1..r (k linear
    passes total, the ``pagerank``/``kmeans_iterate`` lineage-cut
    contract). Each round broadcasts ONE selected row, joins it against
    the corpus map-side, and reduces with a TakeOrderedAndProject
    argmax — no pairwise matrix, no corpus-sized shuffle, no
    data-proportional broadcast. Selected centers re-enter with
    ``min_d2 = 0`` so they can never win again while any point remains
    uncovered.

    Returns ``(sel_order, vec_id, d2_sel)``: the selection trajectory,
    where ``d2_sel`` is the point's distance-to-selected-set at the
    moment it was chosen (the shrinking coverage radius; 0 for the
    seed).

    reference: ABSENT — SURVEY.md §2 extension surface.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = corpus.select(
        F.col(id_col).alias("vid"),
        # cast to double BEFORE scaling: a float×int product would round
        # in single precision and quantize off-by-one vs other engines
        F.expr(
            f"transform({vec_col}, x -> "
            f"cast(round(cast(x as double) * {int(quant)}.0) as bigint))"
        ).alias("qv"),
    )

    def d2(a: str, b: str) -> Column:
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "0L, (acc, v) -> acc + v)"
        )

    seed = (
        q.orderBy("vid")
        .limit(1)
        .select(F.col("vid").alias("c_id"), F.col("qv").alias("c_qv"))
        .localCheckpoint(eager=True)
    )
    picks = [
        seed.select(
            F.lit(0).alias("sel_order"),
            F.col("c_id").alias("vec_id"),
            F.lit(0).cast("bigint").alias("d2_sel"),
        )
    ]
    state = (
        q.crossJoin(F.broadcast(seed))
        .select("vid", d2("qv", "c_qv").alias("min_d2"))
        .localCheckpoint(eager=True)
    )
    for r in range(1, k):
        nxt = (
            state.orderBy(F.col("min_d2").desc(), F.col("vid").asc())
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(
            nxt.select(
                F.lit(r).alias("sel_order"),
                F.col("vid").alias("vec_id"),
                F.col("min_d2").alias("d2_sel"),
            )
        )
        if r + 1 < k:
            c = nxt.select(F.col("vid").alias("c_id"))
            cvec = q.join(F.broadcast(c), q["vid"] == c["c_id"]).select(
                F.col("c_id"), F.col("qv").alias("c_qv")
            )
            state = (
                state.join(q, "vid")
                .crossJoin(F.broadcast(cvec))
                .select(
                    "vid",
                    F.least("min_d2", d2("qv", "c_qv")).alias("min_d2"),
                )
                .localCheckpoint(eager=True)
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("sel_order")


def hadamard_rotate(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    quant: int = 1_000_000,
) -> DataFrame:
    """Deterministic randomized-Hadamard rotation H·D — the classic
    energy-spreading pre-rotation (Andoni et al., "Practical and Optimal
    LSH for Angular Distance", NeurIPS 2015; FAISS uses the same trick
    as its cheap OPQ alternative): ``H(j,i) = (-1)^popcount(i AND j)``
    is the Walsh–Hadamard matrix (requires ``dim`` a power of two) and
    ``D(i)`` is a derived ±1 sign flip (``md5('d_' || i) < '8'``), so —
    unlike the dense JL sign mix in ``jl_project`` — the transform is
    EXACTLY orthogonal up to scale: ``(HD)ᵀ(HD) = dim·I``, squared L2
    distances come out multiplied by exactly ``dim``, and any ranking by
    L2/dot survives the rotation unchanged. What changes is the BASIS:
    energy concentrated in a few input dimensions is spread uniformly
    across all output dimensions, which is precisely what product
    quantization wants from its subspaces.

    Components quantize to ``round(x·quant)`` BIGINT first, so every
    rotated coordinate is an exact integer (|p_j| ≤ dim·quant·max|x|,
    far inside int64) and the downstream SQ8 → PQ → ADC pipeline stays
    bit-identical cross-engine. No codebook artifact: both matrix
    factors are derived expressions any engine regenerates.

    Scale shape: identical to ``jl_project`` — the dim×dim matrix is a
    broadcast join against the exploded corpus and the rotation is one
    map-side-combinable (id, j) aggregate. Returns LONG form
    ``(vid, j, pj)``.

    reference: ABSENT — SURVEY.md §2 extension surface.
    """
    if dim & (dim - 1) != 0:
        raise ValueError(f"Hadamard rotation needs power-of-two dim, got {dim}")
    spark = corpus.sparkSession
    mat = (
        spark.range(dim)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(dim).select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            (
                F.when(
                    F.bit_count(F.col("i").bitwiseAND(F.col("j"))) % 2 == 0,
                    F.lit(1),
                ).otherwise(F.lit(-1))
                * F.when(
                    F.substring(
                        F.md5(F.concat_ws("_", F.lit("d"), F.col("i"))), 1, 1
                    )
                    < F.lit("8"),
                    F.lit(1),
                ).otherwise(F.lit(-1))
            )
            .cast("bigint")
            .alias("s"),
        )
    )
    q = corpus.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.expr(
                f"transform({vec_col}, x -> "
                f"cast(round(cast(x as double) * {int(quant)}.0) as bigint))"
            )
        ).alias("i", "qv"),
    )
    return (
        q.join(F.broadcast(mat), "i")
        .groupBy("vid", "j")
        .agg(F.sum(F.col("s") * F.col("qv")).cast("bigint").alias("pj"))
    )


def jl_project(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int = 64,
    out_dim: int = 16,
    quant: int = 1_000_000,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas 2003: database-friendly random projections — ±1
    entries preserve pairwise distances in expectation with
    E[‖Px‖²] = r·‖x‖²). The sign matrix is DERIVED, not stored:
    ``s(i,j) = +1 iff md5(i||'_'||j) starts below hex '8'`` — any
    engine, any executor, any retry regenerates the identical matrix,
    which is what makes a random projection usable in a multi-engine
    lake (no codebook artifact to version or ship).

    Components quantize to ``round(x·quant)`` BIGINT first, so every
    projected coordinate ``p_j = Σ_i s(i,j)·q_i`` is an exact integer
    and downstream distances are bit-stable.

    Scale shape: the in_dim×out_dim sign matrix (1,024 rows here) is a
    broadcast join against the exploded corpus; the projection is one
    map-side-combinable (id, j) aggregate — corpus rows never shuffle
    wider than out_dim cells each. Returns the LONG form
    ``(id, j, pj)``.

    reference: ABSENT — SURVEY.md §2 extension surface.
    """
    spark = corpus.sparkSession
    signs = (
        spark.range(in_dim)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(out_dim).select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            F.when(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("i"), F.col("j"))), 1, 1
                )
                < F.lit("8"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("s"),
        )
    )
    q = corpus.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.expr(
                f"transform({vec_col}, x -> "
                f"cast(round(cast(x as double) * {int(quant)}.0) as bigint))"
            )
        ).alias("i", "qv"),
    )
    return (
        q.join(F.broadcast(signs), "i")
        .groupBy("vid", "j")
        .agg(F.sum(F.col("s") * F.col("qv")).cast("bigint").alias("pj"))
    )
