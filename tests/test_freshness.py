"""Verification-debt guard (VERDICT r6 item 2): the registry must never grow
faster than the driver's ~50-queries/round correctness budget can verify.

These tests run tools/freshness_report.py's audit (no SparkSession needed)
and fail the build when the debt stops fitting the budget — the r5/r6
overflow (+99 registrations against a 50/round budget) becomes impossible to
repeat silently.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "freshness_report.py",
)


@pytest.fixture(scope="module")
def report():
    spec = importlib.util.spec_from_file_location("freshness_report", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build_report()


def test_no_latest_check_failures(report):
    # An entry whose newest driver check is red is a live wrong answer.
    assert report["latest_check_failing"] == []


def test_stale_signatures_lead_the_sample(report):
    # A query rewritten after its newest signature is the riskiest kind of
    # debt — it MUST be inside the next driver sample so it gets re-signed
    # immediately.
    assert report["behavior_changed_outside_sample"] == [], (
        "behavior-changed entries must be re-signed next round; more gates "
        "are due than one driver sample holds"
    )


def test_never_checked_backlog_fits_one_round(report):
    # At most a handful of never-checked entries may spill past the next
    # sample (the registration freeze allows ~10 new queries per round,
    # which queue behind the backlog). More than that means registrations
    # are outrunning the driver budget again.
    spill = report["never_checked_outside_sample"]
    assert len(spill) <= 10, (
        f"{len(spill)} never-driver-checked entries don't fit the next "
        f"driver sample: {spill}. Stop registering queries until the "
        "backlog burns down."
    )


def test_total_debt_bounded(report):
    # Total unverified surface (never-checked + stale) must clear within
    # one round plus the ~10-entry new-registration allowance.
    debt = report["never_checked_count"] + len(report["behavior_changed"])
    assert debt <= report["driver_sample"] + 10, (
        f"verification debt {debt} exceeds one driver round "
        f"({report['driver_sample']}) + 10-entry allowance"
    )


def test_inventory_count_matches_registry(report):
    # docs/QUERY_INVENTORY.md is generated from the live registry
    # (tools/gen_inventory.py); its stated count must match — the README's
    # old hand-typed "277" drift class (ADVICE r6) becomes a test failure.
    inv = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "QUERY_INVENTORY.md",
    )
    with open(inv) as f:
        first_line = f.readlines()[2].strip()
    assert first_line.startswith(f"{report['registry_size']} registered"), (
        f"docs/QUERY_INVENTORY.md says {first_line!r} but the registry has "
        f"{report['registry_size']} entries — re-run tools/gen_inventory.py"
    )


def test_signature_tail_cannot_regrow(report):
    # VERDICT r7 item 3: a rolling max-signature-age bar. With the next
    # driver round N = newest signed round + 1, every entry signed before
    # round N-6 must sit inside the next sample so the burn-down retires
    # it. Why 6: the registry (~316) cycles through the ~50/round budget
    # in ~6.3 rounds when every sample is spent oldest-first, so 6 is
    # the steady-state age with priority items (red fixes, behavior
    # changes, new registrations) jumping the queue inside that cycle. The r6 order's explicit schedule (after r8 no
    # signature predates r2, after r9 none predates r3) is tighter than
    # this floor and is carried by the derived verify order itself;
    # this assertion is the backstop that keeps the tail from regrowing
    # after that schedule completes.
    rounds = [
        e["newest_round"]
        for e in report["entries"]
        if e["newest_round"] is not None
    ]
    if not rounds:
        pytest.skip(
            "no CORRECTNESS_r*.json signatures present (fresh clone / CI "
            "without driver artifacts) — nothing to age-check"
        )
    next_round = max(rounds) + 1
    floor = next_round - 6
    too_old = [
        e["name"]
        for e in report["entries"]
        if e["newest_round"] is not None
        and e["newest_round"] < floor
        and not e["in_next_sample"]
    ]
    assert too_old == [], (
        f"{len(too_old)} entries signed before r{floor} sit outside the "
        f"next driver sample: {too_old[:10]}... — more old signatures "
        "than one driver sample can re-sign"
    )
    # r10 tightening (VERDICT r9 item 2): the in-sample rule above means
    # a floor-aged entry gets re-signed next round, so with the registry
    # (~315) cycling through the 50/round budget in ~6.3 rounds, no
    # signature should EVER be older than next_round - 7 regardless of
    # sample position. This is the hard cap the rolling rule implies;
    # asserting it directly catches the failure mode where an old entry
    # is IN the sample but the driver round doesn't land (stall, crash)
    # and the tuple is then regenerated without it.
    # (r11 tightening, VERDICT r10 item 5: 8 -> 7. The r12 order asked
    # for 7 -> 6 here too, but 6 is arithmetically infeasible at steady
    # state: 316 gates / 50 per round = a 6.3-round full cycle, so the
    # post-burn minimum vintage after round N is N-6 — e.g. after r12
    # lands, 24 r6-vintage signatures legitimately remain (50 r6 minus
    # the 26 the r12 sample covers after 3 behavior-changed + 21 r5
    # slots) and next_round - 6 = 7 would red them by construction.
    # The ROLLING rule above did tighten 7 -> 6; this absolute backstop
    # keeps the one slack round the cycle length forces.)
    hard_floor = next_round - 7
    ancient = [
        e["name"]
        for e in report["entries"]
        if e["newest_round"] is not None and e["newest_round"] < hard_floor
    ]
    assert ancient == [], (
        f"{len(ancient)} entries carry signatures older than r{hard_floor} "
        f"(absolute age cap): {ancient[:10]} — the burn-down stalled"
    )


def test_every_gate_has_archived_both_sf_sweep_rows(report):
    # VERDICT r8 item 3: a gate whose local green exists only as a
    # commit-message assertion can't be audited. Every registered gate
    # must carry an `OK <name>` row in at least one archived sweep log
    # per scale factor (docs/sweeps/sweep_r*_sf001.log / _sf01.log) —
    # registering a gate therefore REQUIRES archiving its both-SF sweep
    # rows in the same round.
    gaps = report["sweep_gaps"]
    sweeps_dir = os.path.join(
        os.path.dirname(os.path.dirname(_TOOL)), "docs", "sweeps"
    )
    if not os.path.isdir(sweeps_dir) or not os.listdir(sweeps_dir):
        pytest.skip("no docs/sweeps/ archive present (fresh clone)")
    assert gaps.get("sf001") == [], (
        f"gates with no archived sf0.01 sweep row: {gaps['sf001']} — run "
        "tools/check_oracle.py at sf0.01 and archive the log under "
        "docs/sweeps/"
    )
    assert gaps.get("sf01") == [], (
        f"gates with no archived sf0.1 sweep row: {gaps['sf01']} — run "
        "tools/check_oracle.py at sf0.1 and archive the log under "
        "docs/sweeps/"
    )


def test_every_entry_has_oracle_or_is_known_weak(report):
    # Every registry entry should carry a DuckDB oracle; the few that
    # genuinely can't be expressed in SQL get the driver's weaker
    # rows-only check and are listed here explicitly.
    known_rows_only = {e["name"] for e in report["entries"] if not e["has_oracle"]}
    # Keep this list short and intentional — additions need a reason.
    assert len(known_rows_only) <= 5, sorted(known_rows_only)


def test_audit_tiers_name_live_non_audit_twins():
    # VERDICT r11 item 4: every deliberate exact-audit gate must name a
    # scale-safe twin that (a) is itself a registered gate and (b) is
    # not an audit tier — so the audit/production pairing is closed
    # under the registry and a rename/removal of a production twin
    # breaks the build instead of silently orphaning the audit gate.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (
        workloads,
    )

    registry = set(workloads.all_queries())
    tiers = workloads.AUDIT_TIERS
    assert tiers, "AUDIT_TIERS must not be empty (8 known audit gates)"
    for audit, twin in tiers.items():
        assert audit in registry, f"audit gate {audit!r} not registered"
        assert twin in registry, (
            f"audit gate {audit!r} names twin {twin!r} which is not a "
            "registered gate"
        )
        assert twin not in tiers, (
            f"audit gate {audit!r} names twin {twin!r} which is itself "
            "an audit tier — twins must be production gates"
        )
