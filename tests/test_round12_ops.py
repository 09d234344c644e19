"""Round-12 tests: the q-gram blocking's short-name fallback (ADVICE r11
— the ED-Join count-filter bound is vacuous below length q*(d+1)), the
shared-census advised LSH cap (VERDICT r11 item 3 — one corpus pass, not
a separate signature DAG), and the empty-corpus advisor guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    dedup,
    joins,
)


# ------------------------------------------- q-gram short-name fallback


def _pair_frames(spark, left_names, right_names):
    l = spark.createDataFrame(
        [(i, n) for i, n in enumerate(left_names)], "id bigint, name string"
    )
    r = spark.createDataFrame(
        [(100 + i, n) for i, n in enumerate(right_names)],
        "id bigint, name string",
    )
    return l, r


def test_qgram_fallback_recovers_destroyed_gram_pair(spark):
    """The ADVICE r11 adversarial pair: 'abcdefghi' vs 'xbcxefxhi' is
    Levenshtein distance 3 with ZERO common trigrams (3 spread-out edits
    destroy all 7 occurrences — the name is below the q*(d+1)=12
    guarantee length). The r11 gram-only blocking silently dropped it;
    the length-class fallback must route it."""
    l, r = _pair_frames(spark, ["abcdefghi"], ["xbcxefxhi"])
    out = joins.fuzzy_best_match(
        l, r, "id", "id", "name", max_dist=3, blocking="qgram"
    ).collect()
    assert len(out) == 1
    assert out[0]["right_id"] == 100 and out[0]["dist"] == 3


def test_qgram_fallback_short_vs_long_partner(spark):
    """A below-guarantee name (len 9) paired with an in-guarantee name
    (len 12, within the +-max_dist band) must meet in the fallback block
    — both sides emit it because the emission range extends to
    q*(d+1)+d-1 = 14."""
    # dist('abcdefghi', 'abcdefghixyz') = 3 inserts
    l, r = _pair_frames(spark, ["abcdefghi"], ["abcdefghixyz"])
    out = joins.fuzzy_best_match(
        l, r, "id", "id", "name", max_dist=3, blocking="qgram"
    ).collect()
    assert len(out) == 1 and out[0]["dist"] == 3


def test_qgram_guarantee_regime_still_prefix_blocked(spark):
    """Long names (>= 15 chars, above the fallback range) still match via
    the rarity-prefix gram path — the fallback does not take over the
    guarantee regime."""
    a = "industrial widget alpha"
    b = "industrial widget alphx"  # dist 1
    l, r = _pair_frames(spark, [a], [b])
    out = joins.fuzzy_best_match(
        l, r, "id", "id", "name", max_dist=3, blocking="qgram"
    ).collect()
    assert len(out) == 1 and out[0]["dist"] == 1


def test_qgram_fallback_respects_block_cap(spark):
    """Fallback blocks are capped like gram blocks: with block_cap=1 and
    two right names in the same length bucket, the fallback block is
    dropped and a no-common-gram pair stays unmatched (the documented
    recall/cost trade)."""
    l, r = _pair_frames(
        spark, ["abcdefghi"], ["xbcxefxhi", "ybcyefyhi"]
    )
    out = joins.fuzzy_best_match(
        l, r, "id", "id", "name", max_dist=3, blocking="qgram", block_cap=1
    ).collect()
    assert out == []


# --------------------------------------------- shared-census advised cap


def test_minhash_advised_matches_explicit_cap(spark, sf_dir):
    """max_bucket_size='advised' must produce exactly the pairs of the
    explicit cap the census recommends (the census runs inside the
    operator over its cached signatures — same keys, same cap)."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", 16, 3)
    entries = dedup._band_entries(sig, "doc_id", 16, 4)
    advised = dedup.advised_cap_from_entries(entries)
    assert advised >= 1

    a = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", 16, 4, 3, 0.5, max_bucket_size="advised"
    )
    b = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", 16, 4, 3, 0.5, max_bucket_size=advised
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_minhash_assert_cap_advised_raises_below_census(spark, sf_dir):
    """assert_cap_advised turns the r10 recall cliff into a hard error:
    a cap of 1 sits below any real corpus's advised value."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the census is part of plan construction (its .first() is the one
    # eager point), so the raise happens at build time
    with pytest.raises(ValueError, match="census-advised"):
        dedup.minhash_lsh_pairs(
            docs,
            "doc_id",
            "text",
            16,
            4,
            3,
            0.5,
            max_bucket_size=1,
            assert_cap_advised=True,
        )


def test_advised_cap_empty_corpus_raises_value_error(spark):
    """ADVICE r11: an empty corpus used to TypeError on .first(); it must
    raise a clear ValueError from the census helper."""
    empty = spark.createDataFrame([], "band int, key string, __id bigint")
    with pytest.raises(ValueError, match="empty corpus"):
        dedup.advised_cap_from_entries(empty)


# --------------------------------------------- materialize="auto" mode


def test_auto_materialize_decision_and_identity(spark, sf_dir, tmp_path):
    """auto mode: below the scale guard the rule picks materialization
    (stage files appear), output identical to the lazy plan; a reuse
    count under 2 or an over-guard corpus declines to lazy."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        pipeline2,
    )

    docs = load_table(spark, sf_dir, "documents")
    assert pipeline2.auto_materialize(docs) is True  # tiny fixture corpus
    assert pipeline2.auto_materialize(docs, reuse_count=1) is False

    import os as _os

    lazy = pipeline2.e2e_stage_frames(spark, sf_dir)["s5"]
    mat_dir = str(tmp_path / "auto_mat")
    auto = pipeline2.e2e_stage_frames(
        spark, sf_dir, materialize_dir=mat_dir, materialize="auto"
    )["s5"]
    assert _os.path.exists(mat_dir)  # the rule picked materialization
    assert lazy.exceptAll(auto).count() == 0
    assert auto.exceptAll(lazy).count() == 0


def test_auto_materialize_declines_above_scale_guard(
    spark, sf_dir, tmp_path, monkeypatch
):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        pipeline2,
    )

    monkeypatch.setattr(pipeline2, "AUTO_MAT_MAX_BYTES", 1)
    mat_dir = str(tmp_path / "never_mat")
    pipeline2.e2e_stage_frames(
        spark, sf_dir, upto="s1", materialize_dir=mat_dir, materialize="auto"
    )
    import os as _os

    assert not _os.path.exists(mat_dir)  # declined: stayed lazy


def test_auto_materialize_requires_scratch_dir(spark, sf_dir):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        pipeline2,
    )

    with pytest.raises(ValueError, match="scratch"):
        pipeline2.e2e_stage_frames(spark, sf_dir, materialize="auto")
    with pytest.raises(ValueError, match="unknown materialize mode"):
        pipeline2.e2e_stage_frames(spark, sf_dir, materialize="bogus")


# ----------------------------------------------- bench prepared-rep reps


def test_bench_prepared_reps_rerun_full_lineage(spark):
    """The r12 bench methodology's two honesty guards, pinned: _prepare
    finds the plan's shuffles, and _run_prepared re-executes the FULL
    map lineage each rep (an accumulator-instrumented scan must fire
    again on rep 2 — without the unregister step the DAGScheduler would
    serve the reduce from rep 1's map outputs and the scan would not
    re-run)."""
    import bench

    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    bump_udf = F.udf(bump, LongType())
    df = (
        spark.range(0, 1000, 1, 4)
        .select(bump_udf(F.col("id")).alias("id"))
        .groupBy((F.col("id") % 3).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    prep = bench._prepare(df)
    assert prep["shuffles"], "group-by plan must expose a shuffle id"
    bench._run_prepared(prep)
    first = acc.value
    assert first >= 1000
    # the delta of a SUBSEQUENT rep is the honest signal (rep 1 may
    # double-count under AQE's eager stage materialization): without
    # the unregister step the scheduler serves the reduce from rep 1's
    # map outputs and the scan-side UDF never fires again.
    bench._run_prepared(prep)
    assert acc.value - first >= 1000, (
        "rep 2 did not re-run the scan — shuffle invalidation failed "
        f"(rows touched: rep1={first}, total={acc.value})"
    )


def test_qgram_blocking_recall_lossless_vs_brute_force(spark):
    """Randomized (seeded) recall property for the fallback-completed
    q-gram blocking: over a corpus of names spanning the no-guarantee
    and guarantee length regimes — with adversarial spread-out edits
    that destroy grams — the blocked join must return EXACTLY the
    brute-force best match for every left name (same right_id and
    dist). This is the 'recall LOSSLESS subject to block_cap' claim as
    a property, not an anecdote (block_cap left at its default, far
    above these block sizes)."""
    import random

    rng = random.Random(412)
    alphabet = "abcdefghijklmnopqrstuvwxyz"

    def rand_name(n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    def edit(name, d):
        # d random single-char edits (sub/ins/del), spread anywhere —
        # the adversarial class that can zero out shared grams
        s = list(name)
        for _ in range(d):
            op = rng.choice("sid")
            if op == "s" and s:
                i = rng.randrange(len(s))
                s[i] = rng.choice(alphabet)
            elif op == "i":
                i = rng.randrange(len(s) + 1)
                s.insert(i, rng.choice(alphabet))
            elif s:
                del s[rng.randrange(len(s))]
        return "".join(s)

    rights = [rand_name(rng.randint(5, 20)) for _ in range(40)]
    lefts = [edit(r, rng.randint(0, 3)) for r in rights] + [
        rand_name(rng.randint(5, 20)) for _ in range(10)
    ]
    l = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lefts)], "id bigint, name string"
    )
    r = spark.createDataFrame(
        [(100 + i, n) for i, n in enumerate(rights)],
        "id bigint, name string",
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        joins as J,
    )

    blocked = {
        row["left_id"]: (row["right_id"], row["dist"])
        for row in J.fuzzy_best_match(
            l, r, "id", "id", "name", max_dist=3, blocking="qgram"
        ).collect()
    }
    # brute force truth (python-side: 50x40 pairs)
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    truth = {}
    for li, ln in enumerate(lefts):
        best = None
        for ri, rn in enumerate(rights):
            d = lev(ln, rn)
            if d <= 3 and (best is None or (d, 100 + ri) < best):
                best = (d, 100 + ri)
        if best is not None:
            truth[li] = (best[1], best[0])
    assert blocked == truth, (
        f"blocked result diverges from brute force: "
        f"missing={set(truth) - set(blocked)}, "
        f"extra={set(blocked) - set(truth)}, "
        f"diff={ {k: (blocked.get(k), truth.get(k)) for k in truth if blocked.get(k) != truth.get(k)} }"
    )
