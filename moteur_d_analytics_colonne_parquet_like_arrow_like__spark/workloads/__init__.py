"""Workload registry: named queries + matching DuckDB oracle SQL.

Each workload module exposes ``QUERIES: dict[str, Callable[[SparkSession,
str], DataFrame]]`` and ``ORACLES: dict[str, str]`` (ANSI SQL DuckDB can run
on the same parquet views). The driver's correctness gate runs both sides at
sf0.01 and hash-compares (see ``__spark_entry__.py``).

Oracle-authoring rules that keep the hashes stable across engines:

- alias every computed column identically on both sides,
- sums over doubles go through DECIMAL(18,2)/BIGINT so partial-aggregation
  order cannot change the result, then cast back to double,
- timestamps are projected as DATE or ISO strings where they appear in
  computed output,
- ties in top-k output are broken by a unique key column.

``all_queries()`` returns the gates in the order the driver verifies them,
derived from the checkout's ``CORRECTNESS_r*.json`` signatures and
``BEHAVIOR_CHANGED_SINCE`` (see ``_verify_order``); nothing about the order
is committed by hand.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    analytics,
    geospatial,
    parity,
    pipeline,
    python_surface,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    pipeline2,
    mleval,
    mleval2,
    streaming_ops,
)

_MODULES = [
    parity,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    geospatial,
    analytics,
    python_surface,
    pipeline,
    pipeline2,
    mleval,
    mleval2,
    streaming_ops,
]

# The checkout holding the driver's CORRECTNESS_r*.json signature files.
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Machine-readable gate tiers (VERDICT r11 item 4). Gates listed here are
# DELIBERATE EXACT AUDIT TIERS: they pay exact/all-pairs cost ON PURPOSE —
# as the ground truth a recall report measures against, or as the
# verification feed for an approximate production composition — and their
# measured scale ratios (docs/SCALE.md: pipeline_curate 26.5x at 10x data,
# dedup_keep_best 11.77x, ...) are the COST OF THE AUDIT, not an unshipped
# performance bug. Each maps to its scale-safe twin: the registered gate a
# production run uses for the same operation. tools/gen_inventory.py and
# tools/freshness_report.py surface the tier; tests/test_freshness.py
# asserts every audit gate names a live, non-audit twin, so no future
# round (or reader) mistakes an audit tier for a production composition —
# and no audit gate can silently lose its production counterpart.
AUDIT_TIERS: dict[str, str] = {
    # exact n-gram Jaccard curation (smallest-id keeper) — production
    # composition is the census-advised-cap LSH end-to-end funnel (the
    # default self-sizes since r13, VERDICT r12 item 2: the old pinned
    # cap=4 default carried the r10 recall cliff at sf1)
    "pipeline_curate": "pipeline_end_to_end",
    # exact n-gram Jaccard feed for quality-ranked keeper resolution —
    # production twin is the LSH-fed form at the matched threshold
    "dedup_keep_best": "dedup_keep_best_lsh",
    # exact prefix-filter similarity self-join (PPJoin): the verification
    # tier for banded-LSH candidate generation
    "dedup_ppjoin": "dedup_minhash_lsh",
    # exact cosine top-k over all pairs — the ANN ladder's ground truth
    "sim_topk_bruteforce": "sim_topk_ivf",
    # exact all-pairs embedding cosine near-dup — production twin is the
    # sign-bucket LSH form (r13 v4-fixture head-to-head at sf1: exact
    # 143.5 s / 28.3x vs LSH 1.19 s / 6.1x on the same corpus)
    "dedup_embedding": "dedup_embedding_lsh",
    # recall REPORTS: each computes an exact truth side by construction
    # (that is the audit), grading the named approximate gate
    "dedup_lsh_recall": "dedup_minhash_lsh",
    "sim_tfidf_recall": "sim_tfidf_sparse",
    "sim_tfidf_recall_zipf": "sim_tfidf_sparse",
}


# Entries whose BEHAVIOR changed after their newest driver signature.
# Maintained by hand: when you rewrite a query's logic/output, add
# name -> (first round whose driver signature covers the rewrite, why).
# all_queries() puts the entry first, inside the driver's next sample,
# until a CORRECTNESS row from that round (or later) exists; then it
# clears by itself — no manual removal step to forget.
BEHAVIOR_CHANGED_SINCE: dict[str, tuple[int, str]] = {
    # r6 two_phase_rank_cumsum rewrites (signatures are r5, pre-rewrite;
    # a signature from r7+ covers the rewritten code)
    "customers_abc": (7, "r6 window rewrite (two_phase_rank_cumsum)"),
    "supplier_gini": (7, "r6 window rewrite (two_phase_rank_cumsum)"),
    "customers_rfm": (7, "r6 window rewrite (two_phase_rank_cumsum)"),
    "pipeline_score_normalize": (
        7,
        "r6 window rewrite (two_phase_rank_cumsum)",
    ),
    # (the r6 2-token-blocking entry for join_fuzzy_match — long
    # satisfied — was removed when the r10 entry below superseded it:
    # duplicate dict keys silently shadow, ruff-flagged)
    # r8: the r7 driver-red query — ssr_r/sst_r (round(double,2) of
    # ~1e21 sums, cross-engine-divergent at digit 16) replaced by
    # integer-quantized ssr_q/sst_q (VERDICT r7 item 1)
    "events_seasonal_strength": (
        8,
        "r8 integer quantization of ssr/sst outputs (r7 hash fail fix)",
    ),
    # r8 full-repr sweep fallout: avg emitted via decimal division then
    # cast — the decimal-division rounding path differs from DuckDB's in
    # the last ulp; rewritten as cast-then-IEEE-divide (bit-identical)
    "tpch_q1": (8, "r8 avg_price cast-then-divide rewrite"),
    "tpch_q17_small_qty": (8, "r8 avg_yearly cast-then-divide rewrite"),
    # r9: trained k-means IVF directory rows added to the grid (VERDICT
    # r8 item 4); schema changed (directory column, probe_flips -> probe)
    # r10: production-cell-count rows added (VERDICT r9 item 1) —
    # trained 64-cell/nprobe-16 and 256-cell/nprobe-64; 60 -> 80 rows
    "sim_ivfpq_recall": (
        10,
        "r10 trained rows at 64/256 cells (VERDICT r9 item 1)",
    ),
    # r10: length-bucket block sharding in fuzzy_best_match (the sf1
    # rehearsal's 0-rows cliff fix) — output value-identical at driver
    # SFs (re-verified green at sf0.01 + sf0.1 the day it landed), plan
    # rewrite nonetheless → re-sign first
    "join_fuzzy_match": (
        11,
        "r10 length-bucket block sharding (sf1 0-rows cliff fix) + r11 "
        "distinct-name collapse rewrite (value-identical at driver SFs, "
        "brute-force-verified; fixes a silent sf1 cap-drop recall loss) "
        "and the ADVICE r10 __lb >= 0 probe filter",
    ),
    # r12: the shipped recommended operating points + ADVICE r11 fixes
    "dedup_keep_best_lsh": (
        12,
        "r12 threshold-matched operating point (est>=0.8, 64 hashes / 16 "
        "bands — VERDICT r11 item 2); output changes by design (tighter "
        "threshold -> fewer clusters), oracle re-pointed in step",
    ),
    "join_fuzzy_qgram": (
        12,
        "r12 length-class fallback for the ED-Join no-guarantee regime "
        "(ADVICE r11) + oracle document frequency recomputed over "
        "DISTINCT NAMES to match the implementation (ADVICE r11); "
        "output value-identical at driver SFs (cross-generator symdiff "
        "0), blocking + oracle rewrite nonetheless",
    ),
    "pipeline_end_to_end_advised": (
        12,
        "r12 census moved inside minhash_lsh_pairs over cached "
        "signatures (one corpus pass — VERDICT r11 item 3); output "
        "value-identical (45 rows sf0.01, oracle green), plan rewrite "
        "nonetheless",
    ),
    "text_heaps_law": (
        12,
        "r12 OLS fit as window aggregates (kills the duplicated pts "
        "subtree / second explode) + n_tris from token count instead of "
        "size(tris) (kills the second tokenization pass) — VERDICT r11 "
        "item 5, sf1 ratio 3.90x -> 1.66x; output value-identical, "
        "oracle green, plan rewrite nonetheless",
    ),
    # r13: the proven-better default flipped on (VERDICT r12 item 2) —
    # e2e_stage_frames / e2e_funnel_flags default bucket cap is now
    # census-advised, and the three gates that consumed the old pinned
    # cap=4 default (end_to_end, _auto, funnel_report) + their oracles
    # moved with it. Output CHANGES BY DESIGN (sf0.01 span gate 42 ->
    # 45 rows: the advised cap pairs buckets the pinned cap truncated,
    # shifting which docs reach the mixture); oracles recompute the
    # same census, local re-check ALL GREEN at sf0.01.
    "pipeline_end_to_end": (
        13,
        "r13 default bucket cap pinned-4 -> census-advised (VERDICT r12 "
        "item 2); oracle re-pointed to the advised CTE chain",
    ),
    "pipeline_end_to_end_auto": (
        13,
        "r13 default bucket cap pinned-4 -> census-advised + mkdtemp "
        "scratch dir (ADVICE r12); oracle re-pointed to the advised CTE",
    ),
    "pipeline_funnel_report": (
        13,
        "r13 e2e_funnel_flags default cap pinned-4 -> census-advised so "
        "the observability report tracks the production funnel; oracle "
        "re-pointed to the advised CTE chain",
    ),
    # r13 continuation: the v4 rehearsal fixture (embeddings finally
    # replicated) exposed the JL audit's pair sample as corpus-
    # proportional (36.9x wall at 10x data); bounded to 50 smallest
    # vids per modulus class, oracle bounded identically. Output
    # value-identical at sf0.01 (exactly 50 ids per class there);
    # CHANGES at sf0.1 (was 200x200 pairs, now 50x50).
    "sim_jl_distortion": (
        13,
        "r13 size-bounded 50x50 audit sample (v4 fixture exposed the "
        "corpus-proportional %10 sample: 36.9x at 10x); oracle bounded "
        "in step",
    ),
}


def load_signatures() -> dict[str, tuple[int, bool]]:
    """name -> (newest round that checked it, that check passed), read from
    the checkout's ``CORRECTNESS_r*.json`` once per process. Without those
    files (an installed package) no gate is signed."""
    return dict(_signatures_in(_CHECKOUT))


@functools.cache
def _signatures_in(root: str) -> dict[str, tuple[int, bool]]:
    sigs: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(path))
        except (json.JSONDecodeError, OSError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = bool(
                row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            prev = sigs.get(name)
            if prev is None or rnd >= prev[0]:
                sigs[name] = (rnd, ok)
    return sigs


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        dup = set(merged) & set(m.QUERIES)
        if dup:
            raise ValueError(f"duplicate query names across workloads: {dup}")
        merged.update(m.QUERIES)
    return {n: merged[n] for n in _verify_order(list(merged))}


def _verify_order(names: list[str]) -> list[str]:
    """The order the driver verifies gates in (it samples the first ~50).
    First every gate that is due: never signed, or rewritten after its
    newest signature (``BEHAVIOR_CHANGED_SINCE``), in registry order. Then
    every other gate, oldest signature first, alphabetical within a round.
    """
    sigs = load_signatures()

    def due(n: str) -> bool:
        return n not in sigs or sigs[n][0] < BEHAVIOR_CHANGED_SINCE.get(n, (0,))[0]

    rest = sorted((n for n in names if not due(n)), key=lambda n: (sigs[n][0], n))
    return [n for n in names if due(n)] + rest


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
