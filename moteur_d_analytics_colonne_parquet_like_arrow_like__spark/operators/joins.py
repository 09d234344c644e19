"""Join operators (reference: ABSENT — SURVEY.md §2.4 extension surface).

Scale notes (the part that matters at 100 TB):

- **Dimension joins broadcast.** region/nation/supplier/part/customer are
  orders of magnitude smaller than the fact tables; ``F.broadcast`` pins the
  strategy so a 1000-executor scan never shuffles the fact side. AQE would
  usually pick this anyway; the explicit hint removes the dependence on
  stats freshness.
- **Fact-fact joins shuffle on the join key** — leave them to sort-merge +
  AQE skew splitting. For repeated co-located joins, bucket both sides
  (``bucketed_write``) so the shuffle happens once at write time.
- **As-of / range joins** have no native Spark operator; the composition
  here (range-condition join + window dedup) keeps everything in Catalyst.
  The range join degenerates to a broadcast-nested-loop if neither side is
  partition-pruned — acceptable for small build sides only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def pin_exploding_join(df: DataFrame, key: str, n: int | None = None) -> DataFrame:
    """Pin the partitioning of a relation feeding an EXPLODING equi-join
    (output rows ≫ input rows, e.g. a posting-list / bucket self-join).

    Why this exists (measured at the r8 sf1 rehearsal of the tfidf truth
    ranking): AQE sizes post-shuffle partitions by INPUT bytes, so a join
    whose fan-out is invisible to it (120k rows in → 7.3e8 pairs out) gets
    its inputs coalesced to ONE partition, and the explosion plus its
    partial aggregate run in a single pegged task. A user ``repartition``
    with an explicit numPartitions (``REPARTITION_BY_NUM`` in the plan) is
    exempt from AQE coalescing, so per-partition work stays bounded by the
    keys that partition owns.

    Apply it at the SOURCE of the partition-defining relation — the
    DataFrame whose aggregate/lineage every downstream side inherits —
    not only at the join inputs: a join-input repartition is elided as
    redundant whenever the lineage already carries a term-compatible
    partitioning, and if that lineage layout is an ENSURE_REQUIREMENTS
    exchange AQE collapsed to one partition (the tiny stream side of a
    broadcast-converted upstream join), the elided pin can't save the
    explosion. Pinning the source makes the inherited layout itself
    REPARTITION_BY_NUM whichever side streams or broadcasts.

    Decision rule (r8 audit of every exploding join in the repo): pin when
    (the join side is UNCAPPED or the key is LOW-CARDINALITY) AND the join
    explodes. Capped high-cardinality bucket joins (MinHash/ngram/simhash
    bands) stay unpinned deliberately — an extra exchange on every capped
    join is real cost at 100 TB, and a coalesced layout serializes little
    work when per-bucket work is capped and keys are many.

    ``n`` defaults to the session's default parallelism.
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)


def star_join(fact: DataFrame, dims: dict[str, tuple[DataFrame, list[str] | str]],
              how: str = "inner") -> DataFrame:
    """Snowflake/star expansion: fact joined against each (dim, keys),
    every dim broadcast. dims is {name: (df, on)} — name only for clarity."""
    out = fact
    for _name, (dim, on) in dims.items():
        out = out.join(F.broadcast(dim), on=on, how=how)
    return out


def semi_join(left: DataFrame, right: DataFrame, on: list[str] | str | Column) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | str | Column) -> DataFrame:
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_id: str | None = None,
    direction: str = "backward",
    suffix: str = "_r",
    tie_breakers: list[Column] | None = None,
    tolerance: Column | None = None,
) -> DataFrame:
    """As-of join: for each left row, the single right row with the same key
    and the closest ``right_ts`` ≤ ``left_ts`` (backward), ≥ (forward), or
    minimal absolute distance on either side (nearest) — pandas
    ``merge_asof`` parity. ``tolerance`` (a duration Column, e.g.
    ``F.expr("INTERVAL 7 DAYS")``) bounds the match window on any
    direction; it is REQUIRED for nearest, where an unbounded candidate
    set would be the full per-key cross product at scale. Nearest ties
    (equal distance before and after) deterministically prefer the
    earlier right row, then ``tie_breakers``.

    Composition: equi-join on key + range predicate, then keep rank-1 by
    event time per left row (window dedup). Catalyst executes the equi part
    as a hash/sort-merge join on ``key`` — the shuffle is keyed, so skew
    tools (AQE) apply. For a small right side, broadcast it first.

    At 100 TB the preferred physical shape is: both sides repartitioned by
    key, range-bucketed on time; this composition preserves that option
    because the only shuffle is on ``key``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    if direction == "nearest" and tolerance is None:
        raise ValueError(
            "direction='nearest' requires a tolerance: without one every "
            "right row of the key is a candidate (per-key cross product)"
        )
    # Rename every right column that collides with the left (including the
    # key) so the join condition and output are unambiguous.
    r = right
    rcols = {c: c + suffix for c in r.columns if c in left.columns}
    for old, new in rcols.items():
        r = r.withColumnRenamed(old, new)
    rkey = rcols.get(key, key)
    rts = rcols.get(right_ts, right_ts)
    if direction == "backward":
        range_cond = F.col(rts) <= F.col(left_ts)
    elif direction == "forward":
        range_cond = F.col(rts) >= F.col(left_ts)
    else:  # nearest: tolerance (asserted non-null above) bounds both sides
        range_cond = F.lit(True)
    if tolerance is not None:
        if direction in ("backward", "nearest"):
            range_cond = range_cond & (
                F.col(rts) >= F.col(left_ts) - tolerance
            )
        if direction in ("forward", "nearest"):
            range_cond = range_cond & (
                F.col(rts) <= F.col(left_ts) + tolerance
            )
    # Without a unique left id, partitioning the dedup window by left.columns
    # would COLLAPSE identical left rows into one output row (row_number
    # keeps rank 1 per partition). Synthesize a surrogate id instead; it
    # never appears in the output.
    surrogate = left_id is None
    if surrogate:
        left_id = "__asof_lid"
        left = left.withColumn(left_id, F.monotonically_increasing_id())
    # The range predicate must live IN the join condition: filtering after a
    # left join would drop left rows whose candidate matches all fail it.
    # Catalyst still uses the equi part for the hash/sort-merge join and
    # evaluates the range part as a residual.
    joined = left.join(r, on=(left[key] == r[rkey]) & range_cond, how="left")
    # Nulls (no match) sort last either way, so a real match always wins.
    if direction == "backward":
        order = [F.col(rts).desc_nulls_last()]
    elif direction == "forward":
        order = [F.col(rts).asc_nulls_last()]
    else:
        # Exact integer micros distance (unix_micros, not a double epoch —
        # double would stay exact here but integer needs no argument);
        # equal-distance ties prefer the earlier right row.
        dist = F.abs(
            F.unix_micros(F.col(left_ts).cast("timestamp"))
            - F.unix_micros(F.col(rts).cast("timestamp"))
        )
        order = [dist.asc_nulls_last(), F.col(rts).asc_nulls_last()]
    # tie_breakers make the pick deterministic when several right rows share
    # the same event time.
    w = Window.partitionBy(left_id).orderBy(*order, *(tie_breakers or []))
    out = (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", rkey)
    )
    return out.drop(left_id) if surrogate else out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str | None,
    lower: Column,
    upper: Column,
) -> DataFrame:
    """Band/range join: rows where ``lower <= upper`` conditions hold,
    optionally equi-keyed. With a key, Catalyst plans an equi-join with a
    residual range filter (shuffle on key — scalable); without, it must
    nested-loop — only sane when one side broadcasts."""
    cond = lower & upper
    if key:
        return left.join(right, on=[key], how="inner").where(cond)
    return left.join(right, on=cond, how="inner")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster join: the skewed (left) side gets a random-free,
    deterministic salt from its row content hash; the small-but-not-
    broadcastable right side is replicated ``salt_buckets`` times. The hot
    key's rows then spread over ``salt_buckets`` reducers instead of one.

    AQE's skew-join splitting handles most skew automatically; explicit
    salting remains the tool when a single key exceeds what one task can
    hold even after AQE splits (the 100 TB "null key / celebrity user"
    case). Deterministic salt (hash of all columns, not rand()) keeps
    retries and speculative tasks consistent.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        # Replicating the right side makes right/full outer WRONG: each
        # unmatched right row would surface salt_buckets times.
        raise ValueError(f"salted_join supports left-preserving joins only, not {how!r}")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)
    ).cast("int")
    l_salted = left.withColumn("__salt", salt)
    r_rep = right.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return l_salted.join(r_rep, on=[key, "__salt"], how=how).drop("__salt")


def bucketed_write(
    df: DataFrame, table: str, path: str, bucket_cols: list[str], num_buckets: int
) -> None:
    """Persist bucketed by join key: repeated joins/aggs on these keys then
    shuffle zero bytes (bucket-local). The 100 TB answer to 'this join
    shuffles every night'."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    chunk_seconds: int = 3600,
) -> DataFrame:
    """Interval overlap join (temporal [start,end] × [start,end] overlap —
    the Flink interval join / KDB wj sibling Spark lacks natively) as a
    chunked equi-join:

    1. time is cut into fixed ``chunk_seconds`` buckets; every interval
       replicates to each bucket it touches (an in-row ``sequence`` +
       explode — replication factor = interval length / chunk),
    2. the join runs on (keys…, bucket) EQUALITY — a plain shuffled hash
       join Catalyst and AQE fully optimize — with the exact overlap
       predicate (a.start ≤ b.end ∧ b.start ≤ a.end) applied post-match,
    3. a pair overlapping several buckets would match once per shared
       bucket, so the match is kept ONLY in the bucket containing
       max(a.start, b.start) — the dedup is a filter, not a second
       distinct shuffle.

    Pick ``chunk_seconds`` near the typical interval length: much smaller
    multiplies replicas, much larger multiplies per-bucket pair work.
    Point intervals (start == end) cost one replica. All columns of both
    sides survive with ``l_``/``r_`` prefixes on the interval bounds if
    names collide (caller should pre-alias for clarity)."""
    ck = F.lit(chunk_seconds)

    def buckets(start: str, end: str) -> Column:
        return F.sequence(
            F.floor(F.col(start).cast("long") / ck),
            F.floor(F.col(end).cast("long") / ck),
        )

    l = left.withColumn("__bucket", F.explode(buckets(left_start, left_end)))
    r = right.withColumn("__bucket", F.explode(buckets(right_start, right_end)))
    cond = None
    for k in keys:
        c = l[k] == r[k]
        cond = c if cond is None else (cond & c)
    bucket_eq = l["__bucket"] == r["__bucket"]
    cond = bucket_eq if cond is None else (cond & bucket_eq)
    overlap = (l[left_start] <= r[right_end]) & (r[right_start] <= l[left_end])
    anchor = F.floor(
        F.greatest(
            l[left_start].cast("long"), r[right_start].cast("long")
        )
        / ck
    )
    first_bucket_only = l["__bucket"] == anchor
    joined = l.join(r, cond & overlap & first_bucket_only)
    out = joined.drop(l["__bucket"]).drop(r["__bucket"])
    for k in keys:  # equality-joined: the left copy carries the value
        out = out.drop(r[k])
    return out


def key_skew_report(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Join-key skew diagnostic — the numbers that decide broadcast vs
    plain shuffle vs salting (``salted_join``) before a big join: the
    ``top_n`` heaviest keys with their row count, share of all rows, and
    load relative to the mean key (``x_mean_r`` ≈ how many times hotter
    than average; >10x on a join key means the salting conversation).

    Scale shape: one combiner-friendly groupBy over the raw rows, then
    every further stat aggregates the (already reduced) per-key counts —
    the stats row is a broadcast single-row crossJoin and the top-k is
    TakeOrderedAndProject. Nothing after the first exchange touches raw
    rows, so profiling a 100 TB fact table costs one aggregation pass.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(top_n)
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("key").cast("string").alias("key"),
        "cnt",
        F.round(F.col("cnt") / F.col("total"), 6).alias("frac_r"),
        # (cnt/total)*n_keys, kept in double throughout — cnt*n_keys as
        # integers could overflow on a trillion-row, billion-key table.
        F.round(F.col("cnt") / F.col("total") * F.col("n_keys"), 3).alias(
            "x_mean_r"
        ),
    )


def fuzzy_best_match(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    name_col: str,
    max_dist: int = 3,
    block_cap: int = 10_000,
    n_block_tokens: int = 1,
    blocking: str = "token",
    qgram: int = 3,
) -> DataFrame:
    """Blocked fuzzy record linkage: for each left row, the best right row
    by Levenshtein distance on ``name_col`` (distance <= ``max_dist``; ties
    -> smaller right id). Returns (left id, right id, both names, dist).

    The naive formulation is an O(n·m) similarity cross-join — unusable at
    scale. This is the standard blocking decomposition instead, applied
    over DISTINCT NAMES (round 11): candidate generation runs on the
    deduplicated name sets with min(right id) precomputed per right
    name — best-match semantics collapse exactly (equal names have
    equal distances, so the (dist, right_id) winner per left name is
    the winning right name's minimal id) — and the per-name winner
    broadcasts back onto rows as one keyed join. On dirty catalogs the
    distinct-name count is the INTRINSIC problem size (this corpus: 64
    names across 200k rows; the 2.34B "true candidates" the r10
    rehearsal measured were almost entirely identical-name row pairs),
    so every generator below now pays candidates proportional to
    distinct-name pairs, not row pairs:

    - **block keys** = the name's last ``n_block_tokens`` whitespace
      tokens (head noun first — its most-discriminating token), so
      candidate pairs form only inside a block — an equi-join Spark
      shuffles hash-partitioned like any other. With one token, a typo
      INSIDE the head noun moves the row to another block and the match
      is lost (classic blocking recall bound); ``n_block_tokens=2``
      unions a second pass keyed on the preceding token — each side
      explodes its distinct tail tokens, pairs sharing ANY of them meet,
      and duplicate pairs collapse via one distinct before scoring.
      Cost scales linearly in passes, never pairwise.
    - **length band, sharded INTO the block key**: |len(a) - len(b)| >
      ``max_dist`` can never pass the Levenshtein threshold (each edit
      changes length by <= 1). The exact band predicate stays in the
      join, but the key additionally carries the right row's length
      bucket ``len div (max_dist+1)`` with the left side probing its own
      bucket ±1 — recall-LOSSLESS (bucket width exceeds ``max_dist``, so
      any in-band pair sits at most one boundary apart) while sharding
      each token block by the corpus's length histogram. This matters
      because token keys have BOUNDED cardinality on real catalogs (the
      r10 sf1 rehearsal measured 16 distinct tail tokens across 100k
      parts: every block crossed the 10k cap and the join silently
      returned ZERO rows — the same fixed-cap-vs-growing-cluster cliff
      as the MinHash bucket cap, docs/SCALE.md round 10); the length
      shard keeps per-block occupancy proportional to corpus/|tokens ×
      buckets| instead of corpus/|tokens|.
    - **block cap**: a degenerate block (empty-ish names, one mega-noun)
      turns back into the quadratic join; (token, length-bucket) blocks
      holding more right-side entries than ``block_cap`` are dropped via
      an explicit filter, the same hot-bucket guard as MinHash LSH's
      ``cap_bucket_size``. UNIT (changed in r11 with the distinct-name
      collapse — ADVICE r11): ``block_cap`` counts DISTINCT RIGHT NAMES
      per block, not right rows; a caller that tuned it to row counts on
      a duplicate-heavy catalog should re-tune (the same cap value now
      retains blocks it previously dropped). At 100 TB you alert on the
      dropped blocks and route them to a sharper key.
    - ``blocking="qgram"`` IS that sharper key — the next rung of the
      blocking ladder the r10 rehearsal called for after measuring this
      corpus's token-blocking limit (2.34B true candidates across 16
      tail tokens; docs/SCALE.md). RARITY-PREFIX POSITIONAL Q-GRAMS:
      each name emits only its ``max_dist*q + 1`` rarest gram
      occurrences under the global (document-frequency, gram, position)
      order — the ED-Join count filter (Xiao, Wang, Lin, VLDB 2008): d
      edits destroy at most d*q occurrences, so two names within
      distance d each keep >= 1 prefix occurrence of a shared unedited
      gram, and that gram's position shifts by at most d = one position
      bucket (``pos div (max_dist+1)``, left probes ±1). That count-
      filter bound is only positive for names with > d*q gram
      occurrences (length >= q*(d+1)); shorter names route through an
      exhaustive length-class fallback block (ADVICE r11, see the
      GUARANTEE REGIME note in the emission code), so recall is
      LOSSLESS over the whole length range — verified against the
      brute-force twin — subject only to ``block_cap``. The rarity
      prefix is load-bearing at scale, not an optimization: without it
      the replica corpus's shared boilerplate suffix put every copy
      behind the same hot trigram keys and the sf1 candidate join ran
      >55 min vs token blocking's 73 s (docs/SCALE.md round 11); rare
      grams make blocks small BY CONSTRUCTION (the same principle as
      ``ppjoin_pairs``' prefix filter), and key cardinality scales
      with the corpus rather than a bounded tail-token vocabulary — the
      r10 zero-rows cliff class is removed, not sharded around.

    ``levenshtein`` runs on the JVM per candidate pair (no Python), and the
    best-match winner is a per-left-id window over block-local candidates.
    """
    if n_block_tokens < 1:
        raise ValueError(f"n_block_tokens must be >= 1, got {n_block_tokens}")
    if max_dist < 0:
        # also guards the length-bucket divisor below (div 0 under ANSI)
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if blocking not in ("token", "qgram"):
        raise ValueError(f"unknown blocking generator: {blocking!r}")
    bucket = max_dist + 1

    # NAME COLLAPSE (round 11 — the fix the r10 "intrinsic blocking
    # limit" was pointing at): every generator below runs on DISTINCT
    # names, not rows. Dirty catalogs have name cardinality far below
    # row cardinality (this corpus: 64 distinct part names across 200k
    # rows — the 2.34B "true candidates" r10 measured were almost
    # entirely identical-name row pairs), and best-match semantics
    # collapse exactly: all rows sharing name_r have the same distance
    # to any left name, so the (dist asc, right_id asc) winner for a
    # left NAME is the minimal right id of the winning right NAME —
    # precompute min(right_id) per name_r, rank names, then broadcast
    # the per-name winner back onto left rows. Candidate work now
    # scales with distinct-name pairs (the intrinsic quantity); the
    # O(rows) tail is one keyed join.
    L = left.select(
        F.col(left_id).alias("__out_left_id"),
        F.col(name_col).alias("name_l"),
    )
    dleft = L.select("name_l").distinct()
    dright = right.groupBy(F.col(name_col).alias("name_r")).agg(
        F.min(F.col(right_id)).alias("right_id")
    )

    if blocking == "qgram":
        # RARITY-PREFIX emission (the ED-Join count filter — Xiao, Wang,
        # Lin, "Ed-Join: An Efficient Algorithm for Similarity Joins
        # With Edit Distance Constraints", VLDB 2008): each name emits
        # only its P = max_dist*q + 1 RAREST gram occurrences under the
        # global (document-frequency, gram, position) total order. d
        # edits destroy at most d*q gram occurrences, so two names
        # within distance d must still share one occurrence of their
        # P-prefixes — recall holds — while hot boilerplate grams (the
        # measured sf1 blow-up: shared replica suffixes put >55 min of
        # candidate pairing behind common trigrams before this prefix
        # landed, vs 73 s for token blocking) never enter a block key
        # unless a name has nothing rarer to offer.
        #
        # GUARANTEE REGIME (ADVICE r11): the count-filter bound is only
        # positive when a name has MORE than max_dist*q gram
        # occurrences, i.e. length >= q*(max_dist+1). A shorter name can
        # lose EVERY gram to max_dist spread-out edits ('abcdefghi' vs
        # 'xbcxefxhi': dist 3, zero common trigrams), so gram blocking
        # is structurally lossy for it no matter the prefix policy.
        # Below-guarantee names therefore ALSO route through an
        # exhaustive LENGTH-CLASS fallback block: every name short
        # enough to sit in a within-band pair whose smaller member is
        # below guarantee (len <= q*(max_dist+1) + max_dist - 1) emits a
        # sentinel key ('#' * (qgram+1) — one char LONGER than any real
        # gram, so it can never collide with one; ADVICE r12 fixed this
        # comment, which used to name a nonexistent '\x00fb' key) plus
        # its length bucket; the left side
        # probes +-1 buckets as usual, so any such pair meets there
        # regardless of gram survival. Pairs whose members BOTH sit in
        # the guarantee regime still meet via the rarity prefix — recall
        # is lossless again, subject only to ``block_cap`` (which caps
        # fallback blocks exactly like gram blocks; fallback-block
        # occupancy is the count of below-threshold-length DISTINCT
        # names per length bucket, so a corpus of mostly-short names
        # degrades toward length-class blocking and the cap alerts).
        prefix = max_dist * qgram + 1
        guarantee_len = qgram * (max_dist + 1)
        fallback_len = guarantee_len + max_dist - 1

        def emissions(df: DataFrame, name_alias: str):
            base = df.select(
                "*", F.length(name_alias).alias(f"__len_{name_alias[-1]}")
            )
            return base.select(
                "*",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(0, greatest(length("
                        f"{name_alias}) - {qgram}, 0)), p -> "
                        f"substring({name_alias}, p + 1, {qgram}))"
                    )
                ).alias("__p", "__g"),
            )

        le = emissions(dleft, "name_l")
        re_ = emissions(dright, "name_r")
        # global gram document frequency over BOTH catalogs (distinct
        # names containing the gram) — one aggregation, broadcast back
        occ = (
            le.select("__g", F.concat(F.lit("L"), F.col("name_l")).alias("__n"))
            .union(
                re_.select(
                    "__g", F.concat(F.lit("R"), F.col("name_r")).alias("__n")
                )
            )
            .distinct()
        )
        dfreq = occ.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))

        def take_prefix(e: DataFrame, name_alias: str) -> DataFrame:
            w_pref = Window.partitionBy(name_alias).orderBy(
                F.col("__df").asc(), F.col("__g").asc(), F.col("__p").asc()
            )
            return (
                e.join(dfreq, "__g")
                .withColumn("__pr", F.row_number().over(w_pref))
                .where(F.col("__pr") <= prefix)
                .withColumn("__pb", F.expr(f"__p DIV {bucket}"))
            )

        l = (
            take_prefix(le, "name_l")
            .select(
                "name_l",
                "__len_l",
                "__g",
                F.explode(
                    F.array(
                        F.col("__pb") - 1, F.col("__pb"), F.col("__pb") + 1
                    )
                ).alias("__pbp"),
            )
            .where(F.col("__pbp") >= 0)
            .withColumnRenamed("__pbp", "__pb")
            .distinct()
        )
        r = (
            take_prefix(re_, "name_r")
            .select("right_id", "name_r", "__len_r", "__g", "__pb")
            .distinct()
        )
        # Length-class fallback emissions for the no-guarantee regime
        # (see GUARANTEE REGIME above): sentinel gram key, length bucket
        # as the position bucket, left probing +-1 like the gram path.
        # The sentinel is LONGER than qgram, so no real gram (a <= qgram
        # char substring) can ever collide with it.
        fb_key = F.lit("#" * (qgram + 1))
        l_fb = (
            dleft.where(F.length("name_l") <= fallback_len)
            .select(
                "name_l",
                F.length("name_l").alias("__len_l"),
                fb_key.alias("__g"),
                F.explode(
                    F.array(
                        F.expr(f"length(name_l) div {bucket} - 1"),
                        F.expr(f"length(name_l) div {bucket}"),
                        F.expr(f"length(name_l) div {bucket} + 1"),
                    )
                ).alias("__pb"),
            )
            .where(F.col("__pb") >= 0)
        )
        r_fb = dright.where(F.length("name_r") <= fallback_len).select(
            "right_id",
            "name_r",
            F.length("name_r").alias("__len_r"),
            fb_key.alias("__g"),
            F.expr(f"length(name_r) div {bucket}").alias("__pb"),
        )
        l = l.unionByName(l_fb)
        r = r.unionByName(r_fb)
        rc = r.groupBy("__g", "__pb").agg(F.count(F.lit(1)).alias("__bn"))
        r = r.join(
            F.broadcast(rc.where(F.col("__bn") <= block_cap)),
            ["__g", "__pb"],
        )
        cand = (
            l.join(
                r,
                (l["__g"] == r["__g"])
                & (l["__pb"] == r["__pb"])
                & (
                    F.abs(F.col("__len_l") - F.col("__len_r"))
                    <= F.lit(max_dist)
                ),
            )
            .select("name_l", "right_id", "name_r")
            .distinct()
            .withColumn("dist", F.levenshtein("name_l", "name_r"))
        )
    else:
        def blks(c):
            # last n tokens, deduped (repeated tokens must not double-block)
            return F.array_distinct(
                F.slice(F.reverse(F.split(F.col(c), " ")), 1, n_block_tokens)
            )

        l = (
            dleft.select(
                "name_l",
                F.explode(blks("name_l")).alias("__blk"),
                F.length("name_l").alias("__len_l"),
            )
            .select(
                "*",
                F.explode(
                    F.array(
                        F.expr(f"__len_l div {bucket} - 1"),
                        F.expr(f"__len_l div {bucket}"),
                        F.expr(f"__len_l div {bucket} + 1"),
                    )
                ).alias("__lb"),
            )
            # bucket 0 rows probe a __lb = -1 that no right row carries;
            # dropping them is a pure input-size saving (ADVICE r10)
            .where(F.col("__lb") >= 0)
        )
        r = dright.select(
            "right_id",
            "name_r",
            F.explode(blks("name_r")).alias("__blk"),
            F.length("name_r").alias("__len_r"),
        ).withColumn("__lb", F.expr(f"__len_r div {bucket}"))
        rc = r.groupBy("__blk", "__lb").agg(F.count(F.lit(1)).alias("__bn"))
        r = r.join(
            F.broadcast(rc.where(F.col("__bn") <= block_cap)),
            ["__blk", "__lb"],
        )
        cand = (
            l.join(
                r,
                (l["__blk"] == r["__blk"])
                & (l["__lb"] == r["__lb"])
                & (
                    F.abs(F.col("__len_l") - F.col("__len_r"))
                    <= F.lit(max_dist)
                ),
            )
            .select("name_l", "right_id", "name_r")
            .distinct()
            .withColumn("dist", F.levenshtein("name_l", "name_r"))
        )
    scored = cand.where(F.col("dist") <= max_dist)
    # rank per left NAME; ties on dist resolve to the smaller right id,
    # which the per-name min() above made exact at row granularity
    w = Window.partitionBy("name_l").orderBy(
        F.col("dist").asc(), F.col("right_id").asc()
    )
    best = (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("name_l", "right_id", "name_r", "dist")
    )
    # broadcast-back: the O(rows) tail is this one keyed join
    return L.join(best, "name_l").select(
        F.col("__out_left_id").alias("left_id"),
        "right_id",
        "name_l",
        "name_r",
        "dist",
    )


def join_plan_advisor(
    left: DataFrame,
    right: DataFrame,
    key_l: str,
    key_r: str,
    broadcast_row_limit: int = 1_000_000,
    skew_x_mean: float = 10.0,
) -> DataFrame:
    """Pre-join planning report — the numbers behind the broadcast /
    plain-shuffle / salted decision, as ONE deterministic row:
    per-side row and key counts, the EXACT inner-join output cardinality
    (sum over matching keys of cnt_l x cnt_r — what a cost-based
    optimizer estimates, computed exactly here), each side's hottest-key
    multiplier over its mean, and the recommendation:

    - ``broadcast`` when a side's row count fits the broadcast budget,
    - ``salt`` when the shuffled join's hottest key exceeds
      ``skew_x_mean`` times its side's mean key load (the single-reducer
      straggler signature — AQE splits moderate skew, salting handles
      the pathological key deterministically; see ``salted_join``),
    - ``shuffle`` otherwise.

    Scale shape: each side reduces to its per-key count table first
    (combiner-friendly; the raw tables are scanned once and never joined
    row-to-row), the output-size estimate joins the two SMALL count
    tables on the key, and every statistic after that aggregates counts.
    Advising on a 100 TB join costs two narrow scans.
    """
    lc = left.groupBy(F.col(key_l).alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rc = right.groupBy(F.col(key_r).alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    lstats = lc.agg(
        F.sum("cl").cast("bigint").alias("l_rows"),
        F.count(F.lit(1)).cast("bigint").alias("l_keys"),
        F.max("cl").cast("bigint").alias("l_hot"),
    )
    rstats = rc.agg(
        F.sum("cr").cast("bigint").alias("r_rows"),
        F.count(F.lit(1)).cast("bigint").alias("r_keys"),
        F.max("cr").cast("bigint").alias("r_hot"),
    )
    est = lc.join(rc, "k").agg(
        F.sum(F.col("cl") * F.col("cr")).cast("bigint").alias("out_rows")
    )
    one = lstats.crossJoin(F.broadcast(rstats)).crossJoin(F.broadcast(est))
    l_x = F.round(F.col("l_hot") * F.col("l_keys") / F.col("l_rows"), 3)
    r_x = F.round(F.col("r_hot") * F.col("r_keys") / F.col("r_rows"), 3)
    rec = (
        F.when(F.col("r_rows") <= broadcast_row_limit, F.lit("broadcast_right"))
        .when(F.col("l_rows") <= broadcast_row_limit, F.lit("broadcast_left"))
        .when(
            (l_x > skew_x_mean) | (r_x > skew_x_mean), F.lit("salt")
        )
        .otherwise(F.lit("shuffle"))
    )
    return one.select(
        "l_rows",
        "l_keys",
        "r_rows",
        "r_keys",
        F.coalesce(F.col("out_rows"), F.lit(0)).alias("out_rows"),
        l_x.alias("l_hot_x_mean_r"),
        r_x.alias("r_hot_x_mean_r"),
        rec.alias("recommendation"),
    )
