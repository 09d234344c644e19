"""Text-analysis operators over document tables (lang-ID, quality, tokens,
fingerprints) — training-data pipeline surface, all pure Catalyst columns.

Every function is a deterministic expression of the text, reproducible in
ANSI SQL — so each operator carries a DuckDB oracle. No ML models: lang-ID
is a stopword-profile heuristic, quality is a ratio bundle, token counting
is whitespace + a BPE-ish regex split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import normalize_text, stable_hash31, stable_hash60, word_shingles, words

# Tiny stopword profiles per language. Chosen for SQL portability, not
# linguistic excellence; the operator contract is the scoring rule.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "un", "est", "les", "des", "que", "pour"),
    "de": ("der", "die", "das", "und", "ist", "von", "den", "mit", "für", "auf"),
}

# BPE-ish token pattern: alpha runs | single digits | single non-alnum marks.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def _count_in(ws: Column, vocab: tuple[str, ...]) -> Column:
    """Occurrences (with multiplicity) of vocab words in the token array."""
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(ws, lambda w: F.array_contains(arr, w)))


def lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: highest stopword-profile hit count wins; ties
    resolve to the alphabetically-first language (CASE order); 'und' when no
    profile matches. greatest+CASE keeps the rule portable to ANSI SQL."""
    ws = words(text_col)
    langs = sorted(LANG_PROFILES)
    scores = {lang: _count_in(ws, LANG_PROFILES[lang]) for lang in langs}
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return df.withColumn(out_col, pred)


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Quality-scoring feature bundle + composite score in [0,1]:

    - n_chars, n_words, mean word length
    - punctuation ratio (non-alnum-space chars / chars)
    - digit ratio
    - English-stopword ratio (fluency proxy)

    score = 0.4·fluency + 0.3·(1−punct) + 0.2·len_norm + 0.1·(1−digit)
    with len_norm = min(n_words,100)/100. All double arithmetic with a fixed
    evaluation order — cross-engine exact.
    """
    # Stage the pipeline across PROJECTION BOUNDARIES so Catalyst keeps
    # one evaluation of each expensive intermediate: CollapseProject
    # only merges adjacent projects when the produced expression is
    # cheap (attribute/literal) or referenced once, so aliasing the
    # normalization regex and the split in their own selects pins them
    # to a single per-row evaluation (the inlined form ran the \\s+
    # regex 5x and the split 2x per row — measured 1.19x slower on the
    # 5k-doc bench shape, 0.345 -> 0.290 s median, identical outputs),
    # then the counts and cheap ratio arithmetic reference the staged
    # columns.
    norm_stage = df.select("*", normalize_text(text_col).alias("__norm"))
    ws_stage = norm_stage.select(
        "*", F.split(F.col("__norm"), " ").alias("__ws")
    )
    # Char-class counts via single-pass translate(), not regexp_replace
    # (r13 optimization round, guide §1.2 "per-task work"): translate
    # deletes exactly the same ASCII char sets the regex classes match
    # ([a-z0-9 ] and [0-9] are pure ASCII sets; any non-ASCII char the
    # lowercasing produces is outside BOTH, so it counts as punctuation
    # under either form), so the counts are value-identical while skipping
    # two regex-engine passes per document — measured 201 → 124 ms median
    # on the 5k-doc bench shape (r13 interleaved A/B), byte-identical
    # output, pinned by tests/test_r13_opt.py against the regex form.
    base = ws_stage.select(
        "*",
        F.length(F.col("__norm")).alias("__nc"),
        F.size(F.col("__ws")).alias("__nw"),
        F.length(
            F.translate(
                F.col("__norm"), "abcdefghijklmnopqrstuvwxyz0123456789 ", ""
            )
        ).alias("__punct"),
        (
            F.length(F.col("__norm"))
            - F.length(F.translate(F.col("__norm"), "0123456789", ""))
        ).alias("__digits"),
        _count_in(F.col("__ws"), LANG_PROFILES["en"]).alias("__stop"),
    )
    n_chars, n_words = F.col("__nc"), F.col("__nw")
    punct_ratio = F.col("__punct") / n_chars
    digit_ratio = F.col("__digits") / n_chars
    stop_ratio = F.col("__stop") / n_words
    len_norm = F.least(n_words.cast("double"), F.lit(100.0)) / F.lit(100.0)
    score = (
        F.lit(0.4) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * len_norm
        + F.lit(0.1) * (F.lit(1.0) - digit_ratio)
    )
    return base.select(
        *df.columns,
        n_chars.cast("bigint").alias("q_chars"),
        n_words.cast("bigint").alias("q_words"),
        (n_chars / n_words).alias("q_mean_word_len"),
        punct_ratio.alias("q_punct_ratio"),
        digit_ratio.alias("q_digit_ratio"),
        stop_ratio.alias("q_stop_ratio"),
        score.alias("q_score"),
    )


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (upper bound on
    subword count) + chars-per-token."""
    ws_count = F.size(words(text_col))
    bpe_count = F.size(
        F.regexp_extract_all(normalize_text(text_col), F.lit(TOKEN_PATTERN), 0)
    )
    return df.select(
        "*",
        ws_count.cast("bigint").alias("n_ws_tokens"),
        bpe_count.cast("bigint").alias("n_bpe_tokens"),
        (F.length(normalize_text(text_col)) / bpe_count).alias("chars_per_token"),
    )


# PII patterns kept simple + RE2-compatible so the same pattern runs in any
# engine (no backrefs, no lookaround).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame, text_col: str, out_col: str = "text_redacted"
) -> DataFrame:
    """PII scrubbing: replace emails/phones/IPv4s with typed placeholders
    and count the redactions per category. Pure regexp_replace /
    regexp_count columns — per-row, shuffle-free, linear at any scale."""
    redacted = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint").alias(
                f"n_{kind}"
            )
        )
        redacted = F.regexp_replace(redacted, pat, f"<{kind.upper()}>")
    return df.select("*", *counts, redacted.alias(out_col))


def register_tokenize_udtf(spark, name: str = "tokenize_udtf"):
    """Python UDTF (SURVEY §2.11 — the reference has no extension points):
    expands a text into (term, pos) rows via LATERAL. The UDTF is the
    row-expanding Python extension point; prefer ``F.explode(words(...))``
    (pure Catalyst) when the logic is expressible — this exists for logic
    that genuinely needs Python per row.

    Usage: ``SELECT d.doc_id, t.term, t.pos FROM docs d,
    LATERAL tokenize_udtf(d.text) t``.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="term: string, pos: int")
    class Tokenize:
        def eval(self, text: str):
            norm = " ".join((text or "").lower().split())
            for i, w in enumerate(norm.split(" ")):
                if w:
                    yield (w, i)

    spark.udtf.register(name, Tokenize)
    return Tokenize


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    shingle_k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram IN ORDER, slide a
    window of ``window`` hashes, keep each window's minimum; the distinct
    minima are the fingerprint set. Guarantees: any shared substring of
    length ≥ window+k−1 yields ≥1 shared fingerprint, and fingerprint
    density is ~2/(window+1) — tunable storage vs sensitivity.

    Pure Catalyst (sequence/slice/array_min lambda folds); fingerprints are
    emitted sorted and comma-joined for cross-engine comparison."""
    ws = words(text_col)
    # ordered, duplicate-preserving shingle hashes (word_shingles dedups —
    # winnowing needs the positional sequence)
    shingles = F.when(
        F.size(ws) >= shingle_k,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (shingle_k - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, shingle_k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # STAGE the hash array as a real column before the window pass: inlining
    # it into the window lambda re-evaluates the whole md5 array once PER
    # WINDOW (O(shingles²) hashing — measured ~20× slower); a column
    # reference is computed once per row.
    staged = df.withColumn("__win_hs", F.transform(shingles, lambda s: stable_hash31(s)))
    hs = F.col("__win_hs")
    n = F.size(hs)
    # guard: sequence(1, 0) in Spark yields [1, 0] (descending!), so the
    # fewer-hashes-than-window case must short-circuit to an empty array.
    wins = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - (window - 1)),
            lambda i: F.array_min(F.slice(hs, i, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    fps = F.array_sort(F.array_distinct(wins))
    return staged.select(
        *df.columns,
        F.size(fps).cast("bigint").alias("n_winnow_fps"),
        F.array_join(F.transform(fps, lambda x: x.cast("string")), ",").alias(
            "winnow_fps"
        ),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 4,
    window: int = 4,
    threshold: float = 0.8,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Directional containment dedup over winnowing fingerprints: doc A
    is (near-)CONTAINED in doc B when |fps(A) ∩ fps(B)| / |fps(A)| >=
    ``threshold`` — the prefix/quote/subset-duplicate detector that
    symmetric Jaccard misses (a short doc fully quoted inside a long
    one has low Jaccard but containment 1.0). Winnowing's guarantee
    makes the fingerprint intersection track shared substrings of
    length >= window + k - 1.

    Scale shape: the pair space comes from an INVERTED INDEX over the
    exploded fingerprints (equi-join on the fingerprint value, bounded
    per fingerprint by its document frequency) — never all-pairs;
    ``max_fp_freq`` drops boilerplate fingerprints shared by more than
    that many docs (the MinHash hot-bucket cap, same trade: bounded
    cost, documented recall loss on mega-common substrings). Returns
    (contained_id, container_id, shared_fps, containment_r).
    """
    fps_df = winnow_fingerprints(
        df.select(F.col(id_col), F.col(text_col)), text_col, shingle_k, window
    ).select(
        F.col(id_col).alias("__id"),
        F.col("n_winnow_fps").alias("__n"),
        F.transform(
            F.split(F.col("winnow_fps"), ","), lambda x: x.cast("bigint")
        ).alias("__fps"),
    ).where(F.col("__n") > 0).cache()  # referenced 4x (self-join + sizes):
    # without the cache the O(shingles x window) fingerprint stage
    # recomputes per reference
    inv = fps_df.select("__id", F.explode("__fps").alias("__f"))
    if max_fp_freq is not None:
        # broadcast the HOT set (tiny — boilerplate fingerprints), never
        # the keep set (~all distinct fingerprints)
        hot = (
            inv.groupBy("__f")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_fp_freq)
            .select("__f")
        )
        inv = inv.join(F.broadcast(hot), "__f", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.__f") == F.col("b.__f"))
            & (F.col("a.__id") != F.col("b.__id")),
        )
        .groupBy(
            F.col("a.__id").alias("contained_id"),
            F.col("b.__id").alias("container_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
    )
    sizes = fps_df.select(
        F.col("__id").alias("contained_id"), F.col("__n").alias("__na")
    )
    return (
        shared.join(sizes, "contained_id")
        .withColumn(
            "containment_r",
            F.round(F.col("shared_fps") / F.col("__na"), 6),
        )
        .where(F.col("containment_r") >= F.lit(float(threshold)))
        .select("contained_id", "container_id", "shared_fps", "containment_r")
    )


def doc_fingerprints(df: DataFrame, text_col: str, shingle_k: int = 4) -> DataFrame:
    """Content fingerprints: full-text stable hash (exact-dup key) + min/max
    shingle hash (a 2-element winnowing sketch: stable under small edits at
    the ends)."""
    sh_hashes = F.transform(
        word_shingles(text_col, shingle_k), lambda s: stable_hash31(s)
    )
    return df.select(
        "*",
        stable_hash60(normalize_text(text_col)).alias("fp_exact"),
        F.array_min(sh_hashes).alias("fp_min_shingle"),
        F.array_max(sh_hashes).alias("fp_max_shingle"),
    )


def quality_budget_cut(
    df: DataFrame,
    id_col: str,
    score_col: str,
    token_count,
    budget_tokens: int | None = None,
    budget_frac: float | None = None,
    n_chunks: int = 32,
) -> DataFrame:
    """Take-best-tokens curation cut: documents ranked by quality score
    (descending, ``id_col`` tie-break) are kept while the EXCLUSIVE
    cumulative token count is still under the budget — i.e. the best
    docs fill a global token budget and the doc that straddles the
    boundary is the last one in ("fill the budget", the usual corpus-cut
    semantics). The budget is either absolute (``budget_tokens``) or a
    fraction of the corpus's total tokens (``budget_frac``, computed
    distributively — one broadcast total, no driver collect). Returns
    kept docs with their token count and the tokens consumed before
    them.

    Scale shape: the global quality-ordered cumulative sum is exactly
    the shape that must NOT be a bare ``Window.orderBy`` (one task over
    the whole corpus); it rides ``stats.two_phase_rank_cumsum`` over
    score-quantile chunks — every task bounded by ~docs/``n_chunks``,
    the budget predicate is a per-row comparison after the broadcast of
    chunk base offsets. Bit-identical to the single-task window.
    """
    if (budget_tokens is None) == (budget_frac is None):
        raise ValueError("set exactly one of budget_tokens / budget_frac")
    from .stats import quantile_chunks, two_phase_rank_cumsum

    toks = df.select(
        F.col(id_col), F.col(score_col), token_count.alias("n_tokens")
    )
    chunk = quantile_chunks(toks, score_col, n_chunks=n_chunks, descending=True)
    cum = two_phase_rank_cumsum(
        toks,
        score_col,
        chunk,
        tiebreak_cols=[id_col],
        value_col="n_tokens",
        descending=True,
        cum_col="__cum",
    ).withColumn(
        "cum_before", (F.col("__cum") - F.col("n_tokens")).cast("bigint")
    )
    if budget_tokens is not None:
        kept = cum.where(F.col("cum_before") < F.lit(int(budget_tokens)))
    else:
        tot = toks.agg(F.sum("n_tokens").cast("bigint").alias("__tot"))
        kept = cum.crossJoin(F.broadcast(tot)).where(
            F.col("cum_before")
            < F.lit(float(budget_frac)) * F.col("__tot")
        )
    return kept.select(id_col, score_col, "n_tokens", "cum_before")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 512,
    chunk: int = 8192,
) -> DataFrame:
    """Sequence packing: lay all documents (in ``id_col`` order) end-to-end
    into fixed-``budget``-token training sequences and report, per doc,
    which sequence span holds it — (start_seq, start_off, end_seq). This is
    the concatenate-and-chunk packing of LLM pretraining (documents may
    straddle sequence boundaries; the trainer masks attention across them),
    so the answer is pure prefix-sum arithmetic over token counts.

    Scale shape: a global ordered cumulative sum — the one windowed shape
    that must NOT be written as ``Window.orderBy`` with no partition key
    (that collapses 100 TB into one task). Two-phase distributed scan
    instead: (1) docs fall into deterministic id-range chunks and cumsum
    WITHIN each chunk in parallel; (2) per-chunk totals — one row per
    chunk, ~rows/``chunk`` of them — aggregate into chunk base offsets on
    a broadcastable relation; the global position is base + local. Result
    is bit-identical to the naive single-partition window at any
    partitioning.
    """
    from pyspark.sql import Window

    n_tok = F.size(words(text_col)).cast("bigint")
    toks = (
        df.select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            # integer div, not double division: token offsets at corpus
            # scale must never round through a double
            F.expr(f"{id_col} div {chunk}").alias("__chunk"),
        )
        .where(F.col("n_tokens") > 0)
    )
    # phase 1: parallel per-chunk local prefix sums
    w_local = (
        Window.partitionBy("__chunk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = toks.withColumn("__local_cum", F.sum("n_tokens").over(w_local))
    # phase 2: chunk totals -> exclusive base offset per chunk (tiny)
    w_chunks = (
        Window.orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bases = (
        toks.groupBy("__chunk")
        .agg(F.sum("n_tokens").alias("__chunk_total"))
        .withColumn(
            "__base",
            F.sum("__chunk_total").over(w_chunks) - F.col("__chunk_total"),
        )
        .select("__chunk", "__base")
    )
    return (
        local.join(F.broadcast(bases), "__chunk")
        .withColumn("__end", F.col("__base") + F.col("__local_cum"))
        .withColumn("__start", F.col("__end") - F.col("n_tokens"))
        .select(
            id_col,
            "n_tokens",
            F.expr(f"__start div {budget}").alias("start_seq"),
            F.expr(f"__start % {budget}").alias("start_off"),
            F.expr(f"(__end - 1) div {budget}").alias("end_seq"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    weight_scale: int = 10**6,
    max_join_df: int | None = None,
    max_join_df_den: int | None = None,
    max_bucket_df: int = 1000,
    shingle_k: int = 1,
    query_pred=None,
) -> DataFrame:
    """Related documents by SPARSE tf/df cosine over an inverted index —
    the bag-of-words complement of the dense-embedding sim_* family
    (reference exposes dense ANN only; classic related-articles /
    more-like-this is sparse): weight each (doc, term) as
    w = (tf·10^6) div df — an EXACT integer in both engines (integral
    division, all positive), so dots and norms are exact integer sums
    and the cosine is one deterministic double expression over them.

    ``shingle_k=1`` indexes single words with real term frequencies;
    ``shingle_k>=2`` indexes DISTINCT k-word shingles (tf = 1 by
    construction — set-based shingle cosine). Shingles are the right
    unit when the word vocabulary is small relative to the corpus
    (measured on the synthetic documents table: 40 distinct words
    total, so at any useful df cap the unigram index is either
    quadratic or empty, while the 2-shingle vocabulary is ~10^3 and
    df-capped joins stay both bounded and non-empty).

    ``max_join_df`` drops stop-terms (document frequency above the cap)
    from the JOIN side only — the same bounded-bucket contract as
    ngram_jaccard_pairs: posting lists stay short by construction, at
    the cost of the dot (and thus cosine) becoming a tight LOWER bound
    (stop-terms carry weight tf/df ~ tf/corpus — negligible signal).
    Norms keep every term, so the bound never exceeds 1.

    ``max_join_df_den`` + ``max_bucket_df`` is the scale-aware form:
    keep a term iff df·den <= n_docs (the SEMANTIC stop-term filter —
    relative document frequency is what makes a term non-discriminative,
    so it must scale with the corpus; the count broadcasts as a 1-row
    relation) AND df <= max_bucket_df (the WORK guard — the same
    absolute bounded-bucket contract as minhash's ``cap_bucket_size``:
    per-term pair work never exceeds max_bucket_df², whatever the
    corpus does). Both are needed; each alone was measured to fail:

    - a FIXED absolute cap alone silently empties the join when the
      corpus outgrows it (df<=100 keeps discriminative terms at 500
      docs and drops EVERY term at 5000);
    - a FRACTIONAL cap alone (df <= n/5) keeps relative vocabulary but
      lets every kept posting list grow linearly with the corpus, so
      per-term pair work grows QUADRATICALLY — at the 10x sf1 replica
      the join degenerated into one hot task that had not finished
      after 40 minutes (box at load 1.4 on 32 cores);
    - a sqrt-law compromise (df² <= 25·n) bounds work but its relative
      cutoff SHRINKS as the corpus grows — on the sf1 replica (every
      term's df x10, vocabulary fixed) it dropped every term and
      returned 0 rows.

    When the guard bites (df between n/den and max_bucket_df), those
    mid-frequency terms leave the dot — the same tight-lower-bound
    semantics as the stop-term drop, now also cost-bounded.

    Scale shape: one shuffle to term frequencies, one to document
    frequencies, the capped posting-list self-join (equi-join on term,
    never all-pairs), one pair aggregate, and a per-doc top-k window
    (bounded by the candidate fan-in, which the cap bounds). At 100 TB
    the cap is mandatory — one boilerplate term shared by 10^9 docs is
    otherwise a quadratic bucket.

    ``query_pred`` (a Column over the id column, referenced as ``doc``)
    restricts WHICH documents get a neighbour list — the a-side of the
    posting join only — without changing any list's content (the b-side
    and the norms stay corpus-wide). This is the sampled-query
    evaluation mode every at-scale recall measurement uses: truth
    rankings are quadratic per query doc, so you measure a deterministic
    sample of queries against the full corpus instead of all of them.

    Returns (id_a, id_b, cosine_r, rnk) — for each id_a its k nearest
    neighbours by rounded cosine, ties on ascending id_b.
    """
    from pyspark.sql import Window

    if max_join_df is not None and max_join_df_den is not None:
        raise ValueError("set max_join_df or max_join_df_den, not both")
    dec = "decimal(38,0)"
    tokenizer = (
        words(F.col(text_col))
        if shingle_k == 1
        else word_shingles(F.col(text_col), k=shingle_k)
    )
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokenizer).alias("term")
    )
    tf = toks.groupBy("doc", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # Pin term partitioning at the SOURCE of the w lineage, not just at
    # the posting join below — the posting join explodes and its term key
    # is low-cardinality (~10³ shingles), exactly the
    # joins.pin_exploding_join decision rule; that helper's docstring
    # carries the full two-layer r8 postmortem (AQE coalescing by input
    # bytes + join-input pins elided against a broadcast-collapsed
    # lineage). Repartitioning tf BEFORE the df aggregate makes the
    # inherited partitioning itself REPARTITION_BY_NUM (AQE-exempt)
    # whichever side streams or broadcasts.
    from .joins import pin_exploding_join

    nslices = df.sparkSession.sparkContext.defaultParallelism
    dfreq = (
        pin_exploding_join(tf, "term", nslices)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    w = tf.join(dfreq, "term").select(
        "doc",
        "term",
        "df",
        F.expr(f"CAST((tf * {weight_scale}) div df AS BIGINT)").alias("w"),
    )
    norm2 = w.groupBy("doc").agg(
        F.sum(F.col("w").cast(dec) * F.col("w").cast(dec)).alias("n2")
    )
    if max_join_df is not None:
        side = w.where(F.col("df") <= max_join_df)
    elif max_join_df_den is not None:
        ndocs = df.agg(F.count(F.lit(1)).cast("bigint").alias("__ndocs"))
        side = w.crossJoin(F.broadcast(ndocs)).where(
            (F.col("df") * F.lit(max_join_df_den) <= F.col("__ndocs"))
            & (F.col("df") <= F.lit(max_bucket_df))
        )
    else:
        side = w
    a_side = side if query_pred is None else side.where(query_pred)
    a = a_side.select(
        F.col("doc").alias("id_a"), "term", F.col("w").alias("wa")
    )
    b = side.select(
        F.col("doc").alias("id_b"), "term", F.col("w").alias("wb")
    )
    # The posting join is an EXPLODING join: output rows = sum over terms
    # of |a-list|*|b-list|, invisible to AQE's partition sizing (it sizes
    # by INPUT bytes). Measured at the sf1 rehearsal: the uncapped truth
    # side's ~120k-row a-input coalesced to ONE post-shuffle partition,
    # and the 7.3e8-pair explosion + partial aggregate ran 15+ min in a
    # single pegged task (50 GB hash map) — the exact hot-task failure
    # the bucket caps exist to prevent, recreated by the scheduler.
    # pin_exploding_join bounds per-partition work by the terms it owns,
    # and at 100 TB a term-partitioned posting join is the only shape
    # that survives anyway. The extra exchange is on the pre-explosion
    # (small) side of the join — negligible. (These are elided as
    # redundant when the inputs already carry a term partitioning —
    # which is why the dfreq source pin above must exist; belt and
    # braces for every planner path.)
    dots = (
        pin_exploding_join(a, "term", nslices)
        .join(pin_exploding_join(b, "term", nslices), "term")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa").cast(dec) * F.col("wb").cast(dec)).alias("dot"))
    )
    na = norm2.select(F.col("doc").alias("id_a"), F.col("n2").alias("n2a"))
    nb = norm2.select(F.col("doc").alias("id_b"), F.col("n2").alias("n2b"))
    cos = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("n2a").cast("double"))
            * F.sqrt(F.col("n2b").cast("double"))
        ),
        6,
    )
    win = Window.partitionBy("id_a").orderBy(
        F.col("cosine_r").desc(), F.col("id_b").asc()
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cosine_r", cos)
        .withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= k)
        .select("id_a", "id_b", "cosine_r", "rnk")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 2,
) -> DataFrame:
    """Most characteristic terms per document: rank by (term frequency
    desc, document frequency asc, term asc) and report the tf·idf score
    (tf · ln(N/df), natural log) for each kept term.

    The RANKING is integer-exact — tf and df are counts, the term string
    breaks remaining ties — so it is reproducible bit-for-bit across
    engines; the float tfidf value is payload only and never decides
    order (libm log can differ in the last ulp between engines, which a
    float-ordered rank would amplify into different rows).

    Scale shape: one explode + two aggregations. tf shuffles on (doc,
    term); df is a term-keyed agg of the (already small) tf relation; the
    corpus size N is a 1-row broadcast. No quadratic anything — this is
    the vocabulary/keyword-extraction pass of a curation pipeline.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.countDistinct(id_col).cast("double").alias("n_docs")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_n)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            "rnk",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


def repetition_features(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", §A1.1 repetition rules): the fraction of content
    made of repeated words / bigrams. High values mark boilerplate,
    keyboard-mash, and template spam — the standard cut before LLM
    training.

    Per-row array algebra only (no shuffle, no UDF): the within-document
    mode count is max over distinct words of its occurrence count — an
    O(distinct·len) JVM lambda over a ~10²-word array, the cheap-and-exact
    form at document granularity. Emitted fractions are ratios of exact
    integer counts (deterministic doubles, cross-engine stable):

    - rep_dup_word_frac: 1 − distinct/total words (0 = no word repeats)
    - rep_top_word_frac: most frequent word's share of all words
    - rep_dup_bigram_frac: share of bigram slots whose bigram occurs >1×
    - rep_top_bigram_frac: most frequent bigram's share of all bigrams
    """
    ws = words(text_col)
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def mode_count(arr: Column) -> Column:
        return F.array_max(
            F.transform(
                F.array_distinct(arr),
                lambda w: F.size(F.filter(arr, lambda x: x == w)),
            )
        )

    def dup_occurrences(arr: Column) -> Column:
        """Occurrence slots whose value appears more than once in arr."""
        return F.size(
            F.filter(arr, lambda x: F.size(F.filter(arr, lambda y: y == x)) > 1)
        )

    base = df.select(
        "*",
        ws.alias("__ws"),
        bigrams.alias("__bg"),
    )
    w, b = F.col("__ws"), F.col("__bg")
    nw, nb = F.size(w), F.size(b)
    out = base.select(
        *df.columns,
        nw.cast("bigint").alias("rep_n_words"),
        F.size(F.array_distinct(w)).cast("bigint").alias("rep_n_distinct_words"),
        (
            F.lit(1.0) - F.size(F.array_distinct(w)) / nw.cast("double")
        ).alias("rep_dup_word_frac"),
        (mode_count(w) / nw.cast("double")).alias("rep_top_word_frac"),
        F.when(nb > 0, dup_occurrences(b) / nb.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("rep_dup_bigram_frac"),
        F.when(nb > 0, mode_count(b) / nb.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("rep_top_bigram_frac"),
    )
    return out


# Gopher-style quality-rule thresholds (published heuristics from the
# Gopher/MassiveText filtering recipe; the exact constants are the operator
# contract here, shared with the oracle SQL).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher/MassiveText-style document quality rules as one expression
    tree: word-count bounds, mean word length band, alphabetic-word ratio,
    required stopword hits, and bullet/ellipsis line ratios, plus the
    composite pass flag.

    All metrics are exact integer counts or IEEE double ratios of them, so
    every engine computes bit-identical values — shuffle-free, linear scans
    at any scale (the reference has no scalar/text surface at all,
    cae/README.md:131-138; this extends the §2.9 extension family).
    """
    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    ws = words(text_col)
    lines = F.split(raw, "\n")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    base = df.select(
        "*",
        F.size(ws).alias("__nw"),
        F.length(F.regexp_replace(normalize_text(text_col), " ", "")).alias(
            "__nc_nospace"
        ),
        F.size(F.filter(ws, lambda w: w.rlike("[a-z]"))).alias("__alpha_w"),
        F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))).alias(
            "__stop_hits"
        ),
        F.size(lines).alias("__nl"),
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).rlike("^[-*•]"),
            )
        ).alias("__bullet_l"),
        F.size(
            F.filter(lines, lambda ln: F.rtrim(ln).rlike("[.]{3}$"))
        ).alias("__ellipsis_l"),
    )
    nw = F.col("__nw")
    mean_wl = F.col("__nc_nospace") / nw
    alpha_ratio = F.col("__alpha_w") / nw
    bullet_ratio = F.col("__bullet_l") / F.col("__nl")
    ellipsis_ratio = F.col("__ellipsis_l") / F.col("__nl")
    gopher_pass = (
        (nw >= 50)
        & (nw <= 100_000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (alpha_ratio > 0.8)
        & (F.col("__stop_hits") >= 2)
        & (bullet_ratio <= 0.9)
        & (ellipsis_ratio <= 0.3)
    )
    return base.select(
        *df.columns,
        nw.cast("bigint").alias("g_words"),
        mean_wl.alias("g_mean_word_len"),
        alpha_ratio.alias("g_alpha_ratio"),
        F.col("__stop_hits").cast("bigint").alias("g_stop_hits"),
        bullet_ratio.alias("g_bullet_ratio"),
        ellipsis_ratio.alias("g_ellipsis_ratio"),
        gopher_pass.alias("g_pass"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    chunk_size: int = 600,
    overlap: int = 150,
) -> DataFrame:
    """RAG-style document chunking: fixed-size character windows with
    overlap (stride = chunk_size - overlap); a document shorter than one
    chunk yields exactly one chunk. Implemented as explode(sequence(...))
    over a per-row integer chunk count — pure Catalyst, no shuffle, and
    output rows scale with corpus size / stride (safe at 100 TB: chunking
    is embarrassingly parallel per document).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    raw = F.col(text_col)
    n = F.length(raw)
    # ceil((n - overlap) / stride) in exact int arithmetic, min 1 chunk.
    n_chunks = F.greatest(
        F.lit(1), F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
    )
    start = (F.col("chunk_id") * stride).cast("bigint")
    return (
        df.select(
            *id_cols,
            raw.alias("__text"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_id"
            ),
        )
        .select(
            *id_cols,
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            start.alias("chunk_start"),
            F.substring(F.col("__text"), F.col("chunk_id") * stride + 1, chunk_size)
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
    )


def top_ngrams(
    df: DataFrame, text_col: str, doc_id_col: str, n_top: int = 50
) -> DataFrame:
    """Corpus-level bigram statistics: lowercase, strip non-alpha characters
    from each whitespace token, drop empty tokens, form adjacent-word
    bigrams per document as an expression (no positional self-join), then
    aggregate global occurrence count + document frequency and keep the
    top `n_top` by (count desc, bigram asc).

    One explode + one groupBy shuffle; the per-document bigram construction
    is transform(sequence(...)) — the same shape that scales MinHash
    shingling. Document frequency is exact count(distinct doc_id).
    """
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda w: F.regexp_replace(w, "[^a-z]", ""),
        ),
        lambda w: w != "",
    )
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(doc_id_col).alias("__doc"), F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("__doc").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram"))
        .limit(n_top)
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval for one query (Robertson-Sparck Jones idf,
    the +1 'plus' variant so idf stays positive): score(d) = Σ_t idf_t ·
    tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)). Exact integer tf/df/dl make
    every per-(doc,term) score a deterministic double; the per-doc sum
    routes through DECIMAL(28,15) so partial-aggregation order cannot
    change the ranking (repo oracle rule).

    Scale shape: the explode is FILTERED to the query's terms before any
    shuffle (candidate postings only — an inverted-index probe, not a
    corpus-wide term table); corpus stats (N, avgdl) and per-term df are
    single-row/tiny broadcasts. Top-k is TakeOrderedAndProject.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    ws = words(text_col)
    base = df.select(
        F.col(id_col).alias("doc"),
        F.size(ws).alias("dl"),
        F.explode(F.filter(ws, lambda w: F.array_contains(terms, w))).alias(
            "term"
        ),
    )
    tf = base.groupBy("doc", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_stats = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(words(text_col)).cast("long"))
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc").alias("df_t"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.round(
                F.sum(F.col("s").cast("decimal(28,15)")).cast("double"), 6
            ).alias("bm25_r"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25_r").desc(), F.col(id_col).asc())
        .limit(k)
    )


def unigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_logp: int = 9,
) -> DataFrame:
    """CCNet-style unigram language-model scoring: train a unigram model
    on the corpus itself (token → count / total), then score every
    document by its mean negative log-likelihood in nats. High NLL =
    tokens the corpus finds surprising — the cheap perplexity proxy used
    to bucket web text by fluency before LLM training (Wenzek et al.
    2020, "CCNet", §4.3; there the model is external KenLM, here it is
    the corpus's own unigram distribution — same bucketing mechanics, no
    external artifact).

    Determinism: each token's log-probability is rounded to
    ``round_logp`` decimals and cast to DECIMAL(18,9) BEFORE the per-doc
    sum, so partial-aggregation order can never change the double; the
    mean divides the exact sum by the exact token count at the end.

    Scale shape: one explode + one vocab aggregate (vocabulary-sized —
    bounded, broadcastable) + a broadcast join back onto the token
    stream + one per-doc aggregate. The corpus total is a 1-row cross
    join. Nothing quadratic, no Python.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("t")
    ).where(F.col("t") != "")
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("cnt") / F.col("total")), round_logp)
        .cast("decimal(18,9)")
        .alias("logp"),
    )
    return (
        toks.join(F.broadcast(logp), "t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum("logp").cast("double") / F.count(F.lit(1)), 6
            ).alias("nll_r"),
        )
    )


def token_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_term: int = 9,
) -> DataFrame:
    """Within-document token Shannon entropy (nats): H = −Σ p·ln p over
    the document's own token frequency distribution. Low entropy =
    repetitive/templated text (complements the Gopher repetition ratios
    with a single scalar); high entropy = diverse vocabulary.

    Each p·ln p term is rounded and DECIMAL-cast before the per-doc sum
    (same determinism rule as :func:`unigram_lm_scores`). Scale shape:
    explode + per-(doc, token) count + per-doc aggregate — two keyed
    shuffles on doc id, nothing corpus-quadratic.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("t")
    ).where(F.col("t") != "")
    tf = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    n = tf.groupBy(id_col).agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    return (
        tf.join(n, id_col)
        .select(
            F.col(id_col),
            F.col("n"),
            F.round(p * F.log(p), round_term)
            .cast("decimal(18,9)")
            .alias("term"),
        )
        .groupBy(id_col)
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.round(-F.sum("term").cast("double"), 6).alias("entropy_r"),
        )
    )


def bpe_train_merges(
    df: DataFrame, text_col: str, n_merges: int = 3
) -> DataFrame:
    """Distributed BPE (byte-pair-encoding) merge training — the corpus
    side of tokenizer construction: learn the ``n_merges`` most frequent
    adjacent-symbol merges, returning one row per learned merge
    ``(step, pair_a, pair_b, merged, weight)``.

    Classic BPE trains on the word-frequency dictionary, not raw text, so
    the heavy corpus is touched ONCE: tokenize (lowercase, alpha-only —
    which also keeps every symbol regex/replace-safe), explode, and
    reduce to (word, count) — after that each merge round runs over the
    vocabulary table (thousands of rows at any corpus size; Zipf does the
    compression). Each round is:

    - pair stats: per-word adjacent symbol pairs via transform(sequence)
      (no positional self-join), weighted by word count, one
      combiner-friendly groupBy over the small vocab table;
    - winner: global top pair by (weight desc, pair asc) — a 1-row
      TakeOrderedAndProject, broadcast-crossJoined back, never collected
      to the driver;
    - merge: space-padded substring replace `` a b `` → `` ab `` on every
      word's symbol sequence.

    Merge semantics are plain LEFT-TO-RIGHT NON-OVERLAPPING substring
    replacement — identical in Spark and every ANSI engine, which is what
    makes the whole training run oracle-checkable. This deviates from
    textbook greedy BPE only on runs of 3+ identical symbols inside one
    word ("aaa..."), where non-overlapping replace can skip a merge site
    in the round it was learned; it is picked up in later rounds.
    Vocabulary lineage is cut per round (``localCheckpoint``) so the plan
    stays O(1) deep per merge instead of nesting every prior round — the
    pagerank/kmeans_iterate contract.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda w: F.regexp_replace(w, "[^a-z]", ""),
        ),
        lambda w: w != "",
    )
    vocab = (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"),
            "cnt",
        )
    )
    steps: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        vocab = vocab.localCheckpoint(eager=True)
        syms = F.split(F.col("seq"), " ")
        pair_arr = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("a"),
                    F.element_at(syms, i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        top = (
            vocab.select(F.explode(pair_arr).alias("p"), "cnt")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").cast("bigint").alias("w"))
            .orderBy(F.col("w").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
        )
        steps.append(
            top.select(
                F.lit(step).alias("step"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.concat("a", "b").alias("merged"),
                F.col("w").alias("weight"),
            )
        )
        padded = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
        pat = F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
        vocab = (
            vocab.crossJoin(F.broadcast(top))
            .withColumn("seq", F.trim(F.replace(padded, pat, rep)))
            .select("seq", "cnt")
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")


def bpe_encode_counts(
    df: DataFrame, id_col: str, text_col: str, merges: DataFrame
) -> DataFrame:
    """Apply a learned BPE merge program (``bpe_train_merges`` output) to
    every document and return per-document token statistics
    ``(id, n_words, n_tokens)`` under the merged vocabulary — the encode
    half of the tokenizer, and the token-count signal a data-mixture
    budget actually bills against.

    The merge program is aggregated into ONE ordered array of
    (pair_a, pair_b) structs and broadcast; application is a Catalyst
    ``aggregate`` fold over that array per word — the same space-padded
    left-to-right replace the trainer used, so train and encode share
    exact semantics. Encoding is therefore a pure per-row expression over
    a broadcast program: zero shuffles until the final per-document sum,
    the "train once, apply as a mapper" shape a 100 TB corpus needs.
    """
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda w: F.regexp_replace(w, "[^a-z]", ""),
        ),
        lambda w: w != "",
    )
    prog = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("step", "pair_a", "pair_b"))
        ).alias("__prog")
    )
    words_df = df.select(
        F.col(id_col), F.explode(toks).alias("word")
    ).withColumn(
        "seq", F.trim(F.regexp_replace("word", "(.)", "$1 "))
    )
    apply_merge = lambda acc, m: F.trim(  # noqa: E731
        F.replace(
            F.concat(F.lit(" "), acc, F.lit(" ")),
            F.concat(
                F.lit(" "), m["pair_a"], F.lit(" "), m["pair_b"], F.lit(" ")
            ),
            F.concat(F.lit(" "), m["pair_a"], m["pair_b"], F.lit(" ")),
        )
    )
    encoded = (
        words_df.crossJoin(F.broadcast(prog))
        .withColumn(
            "enc", F.aggregate("__prog", F.col("seq"), apply_merge)
        )
        .withColumn("n_tok", F.size(F.split(F.col("enc"), " ")))
    )
    return (
        encoded.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy(id_col)
    )


def readability(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document Flesch readability counts: words, sentences
    (``[.!?]+`` runs in the raw text, floored at 1), and syllables (per
    letter-bearing word, the count of ``[aeiouy]+`` vowel-group runs
    floored at 1 — the classic dictionary-free approximation). Appends
    ``r_words / r_sentences / r_syllables`` for a downstream
    reading-ease aggregate.

    Scale shape: a pure per-row expression tree (regexp counts + one
    array fold) — shuffle-free, whole-stage codegen, linear at any
    scale; the aggregate shape belongs to the caller.

    reference: ABSENT — SURVEY.md §2 extension surface (quality-scoring
    family next to ``quality_score`` / ``gopher_quality``).
    """
    from ..functions import words

    ws = words(text_col)
    syl = F.aggregate(
        F.transform(
            ws,
            lambda w: F.when(
                w.rlike("[a-z]"),
                F.greatest(
                    F.lit(1),
                    F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
                ),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    letter_words = F.aggregate(
        F.transform(
            ws, lambda w: F.when(w.rlike("[a-z]"), F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sentences = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)
        ).cast("bigint"),
    )
    return df.select(
        "*",
        letter_words.alias("r_words"),
        sentences.alias("r_sentences"),
        syl.alias("r_syllables"),
    )


def bigram_lm_scores(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    round_logp: int = 9,
) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing: train
    conditional probabilities ``P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)``
    on one corpus and score another by mean negative log-likelihood per
    bigram — the sequence-aware upgrade of :func:`unigram_lm_scores`
    (a unigram model can't tell shuffled tokens from fluent text; the
    bigram NLL penalizes implausible ADJACENCY). Unseen contexts fall
    back to ``1/V`` through the same smoothing — no special cases.

    Determinism: bigrams are built as an in-order expression over the
    token array (no positional self-join); each log term is one IEEE
    division + log of exact integers, rounded and DECIMAL-cast before
    any sum (the :func:`unigram_lm_scores` rule).

    Scale shape: the bigram-count model is (w1,w2)-keyed — vocabulary²
    bounded but not broadcastable; scoring joins it SHUFFLE-side on the
    composite key (both sides hash-partition on (w1,w2) — the
    fingerprint-join shape). Context totals derive from the same count
    table; V is a 1-row broadcast.

    reference: ABSENT — SURVEY.md §2 extension surface (LM-scoring
    family: unigram NLL / token entropy / BPE).
    """

    def bigrams(df: DataFrame) -> DataFrame:
        toks = F.filter(words(text_col), lambda w: w != "")
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        return df.select(
            F.col(id_col), F.explode(pairs).alias("p")
        ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    tb = bigrams(train)
    c12 = tb.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab = (
        train.select(F.explode(F.filter(words(text_col), lambda w: w != "")).alias("t"))
        .agg(F.count_distinct("t").cast("bigint").alias("v"))
    )
    scored = (
        bigrams(test)
        .join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.round(
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast(
                        "double"
                    )
                ),
                round_logp,
            )
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            -F.sum("logp").cast("double") / F.count(F.lit(1)), 6
        ).alias("nll_r"),
    )
