#!/usr/bin/env python3
"""Verification-freshness audit: join the live query registry against every
CORRECTNESS_r*.json the driver has produced and report, per entry, the newest
round that signed it (and whether that check passed).

VERDICT r6 item 2: registry growth must never silently outrun the driver's
~50-queries/round verification budget again. This script is the audit;
tests/test_freshness.py turns its invariants into build failures:

  * never-driver-checked entries must fit the upcoming driver sample, i.e.
    every never-checked entry must sit inside the first DRIVER_SAMPLE names
    of all_queries() (whose order workloads derives from these signatures);
  * no entry's newest signature may be a FAIL (latest check red);
  * the entries of workloads.BEHAVIOR_CHANGED_SINCE (hand-maintained when a
    query's output or plan is rewritten after its newest signature) must
    also sit inside the sample.

Usage:
  python tools/freshness_report.py            # human table + summary
  python tools/freshness_report.py --json     # machine-readable
  python tools/freshness_report.py --write    # refresh docs/FRESHNESS.md

No SparkSession is created — importing the workloads package only registers
callables.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (  # noqa: E402
    workloads,
)

# The driver verifies roughly this many entries per round (observed: 50 in
# r3-r6). Used as the budget the never-checked backlog must fit within.
DRIVER_SAMPLE = 50


def load_sweep_coverage() -> dict[str, set[str]]:
    """Gate names with an archived green full-sweep row, per scale factor.

    VERDICT r8 item 3: three r8-registered gates were green only as
    commit-message assertions because the final archived sf0.1 sweep log
    predated them — unlogged sweeps can't be audited. The archived logs
    under docs/sweeps/ (``check_oracle.py`` output, one file per
    ``sweep_r{N}_sf{001|01}.log``) are the auditable record; this parses
    every ``OK <name>`` row so build_report can fail when a registered
    gate lacks a logged row at either SF."""
    cov: dict[str, set[str]] = {"sf001": set(), "sf01": set()}
    for path in glob.glob(os.path.join(REPO, "docs", "sweeps", "*.log")):
        m = re.search(r"_sf(001|01)\.log$", os.path.basename(path))
        if not m:
            continue
        key = f"sf{m.group(1)}"
        try:
            text = open(path).read()
        except OSError:
            continue
        cov[key].update(re.findall(r"^OK\s+(\S+)", text, re.MULTILINE))
    return cov


def build_report() -> dict:
    registry = list(workloads.all_queries())  # verification order
    oracles = workloads.all_oracles()
    sigs = workloads.load_signatures()

    entries = []
    for pos, name in enumerate(registry):
        sig = sigs.get(name)
        changed = workloads.BEHAVIOR_CHANGED_SINCE.get(name)
        stale_why = None
        if changed is not None:
            needs_round, why = changed
            if sig is None or sig[0] < needs_round:
                stale_why = why
        entries.append(
            {
                "name": name,
                "sample_position": pos,
                "in_next_sample": pos < DRIVER_SAMPLE,
                "newest_round": sig[0] if sig else None,
                "latest_pass": sig[1] if sig else None,
                "has_oracle": name in oracles,
                "behavior_changed_since": stale_why,
                # VERDICT r11 item 4: deliberate exact audit tiers carry
                # their scale-safe twin; everything else is production.
                "tier": (
                    f"audit (twin: {workloads.AUDIT_TIERS[name]})"
                    if name in workloads.AUDIT_TIERS
                    else "production"
                ),
            }
        )

    never = [e for e in entries if e["newest_round"] is None]
    stale = [e for e in entries if e["behavior_changed_since"]]
    # A red newest signature is a live wrong answer UNLESS the query's
    # behavior changed after that signature (the failure was measured
    # against the old code; the entry is already forced to the front of
    # the next sample by the behavior-changed invariant, which is the
    # guard that actually covers it until re-signed). Those entries are
    # NOT silently green, though: they land in red_pending_refix, which
    # the summary surfaces prominently — if the rewrite did not actually
    # fix the red, this bucket is the visible reminder until the driver
    # re-signs it.
    failing = [
        e
        for e in entries
        if e["latest_pass"] is False and not e["behavior_changed_since"]
    ]
    red_pending = [
        e
        for e in entries
        if e["latest_pass"] is False and e["behavior_changed_since"]
    ]
    rounds = Counter(
        e["newest_round"] for e in entries if e["newest_round"] is not None
    )
    # signatures for names no longer in the registry (renames/removals)
    orphans = sorted(set(sigs) - set(registry))

    sweeps = load_sweep_coverage()
    sweep_gaps = {
        sf: sorted(n for n in registry if n not in seen)
        for sf, seen in sweeps.items()
    }

    return {
        "registry_size": len(registry),
        "driver_sample": DRIVER_SAMPLE,
        "never_checked": [e["name"] for e in never],
        "never_checked_count": len(never),
        "never_checked_outside_sample": [
            e["name"] for e in never if not e["in_next_sample"]
        ],
        "behavior_changed": {
            e["name"]: e["behavior_changed_since"] for e in stale
        },
        "behavior_changed_outside_sample": [
            e["name"] for e in stale if not e["in_next_sample"]
        ],
        "latest_check_failing": [e["name"] for e in failing],
        "red_pending_refix": [e["name"] for e in red_pending],
        "signature_round_histogram": dict(sorted(rounds.items())),
        "sweep_gaps": sweep_gaps,
        "orphan_signatures": orphans,
        "entries": entries,
    }


def render_markdown(rep: dict) -> str:
    lines = [
        "# Verification freshness report",
        "",
        "Generated by `tools/freshness_report.py` — joins the live registry",
        "(`workloads.all_queries()`, in its derived verification order) against every",
        "`CORRECTNESS_r*.json`. `tests/test_freshness.py` enforces the",
        "invariants; regenerate with `python tools/freshness_report.py --write`.",
        "",
        f"- registry entries: **{rep['registry_size']}**",
        f"- driver sample budget per round: **{rep['driver_sample']}**",
        f"- never driver-checked: **{rep['never_checked_count']}**"
        f" (outside next sample: {len(rep['never_checked_outside_sample'])})",
        f"- behavior changed after newest signature: "
        f"**{len(rep['behavior_changed'])}**"
        f" (outside next sample: {len(rep['behavior_changed_outside_sample'])})",
        f"- latest-check failures: **{len(rep['latest_check_failing'])}**",
        f"- red-pending-refix (red sig, rewrite awaiting driver re-sign): "
        f"**{len(rep.get('red_pending_refix', []))}**",
        f"- signature rounds: "
        + ", ".join(
            f"r{r}: {n}" for r, n in rep["signature_round_histogram"].items()
        ),
        "",
    ]
    if rep["latest_check_failing"]:
        lines += ["## FAILING (latest driver check red)", ""]
        lines += [f"- `{n}`" for n in rep["latest_check_failing"]] + [""]
    if rep.get("red_pending_refix"):
        lines += [
            "## RED-PENDING-REFIX (red signature, rewrite not yet"
            " driver-re-signed)",
            "",
        ]
        lines += [f"- `{n}`" for n in rep["red_pending_refix"]] + [""]
    if rep["behavior_changed"]:
        lines += ["## Stale signatures (behavior changed since)", ""]
        lines += [
            f"- `{n}` — {why}" for n, why in rep["behavior_changed"].items()
        ] + [""]
    if rep["never_checked"]:
        lines += ["## Never driver-checked (in sample order)", ""]
        lines += [f"- `{n}`" for n in rep["never_checked"]] + [""]
    if rep["orphan_signatures"]:
        lines += ["## Orphan signatures (name no longer registered)", ""]
        lines += [f"- `{n}`" for n in rep["orphan_signatures"]] + [""]
    lines += [
        "## Full table",
        "",
        "| entry | pos | newest sig | latest | tier |",
        "|---|---|---|---|---|",
    ]
    for e in rep["entries"]:
        sig = f"r{e['newest_round']}" if e["newest_round"] else "never"
        ok = (
            "pass"
            if e["latest_pass"]
            else ("FAIL" if e["latest_pass"] is False else "—")
        )
        lines.append(
            f"| `{e['name']}` | {e['sample_position']} | {sig} | {ok} "
            f"| {e.get('tier', 'production')} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    rep = build_report()
    if args.json:
        slim = {k: v for k, v in rep.items() if k != "entries"}
        print(json.dumps(slim, indent=2))
    else:
        print(
            f"registry={rep['registry_size']} "
            f"never_checked={rep['never_checked_count']} "
            f"(outside_sample={len(rep['never_checked_outside_sample'])}) "
            f"stale={len(rep['behavior_changed'])} "
            f"failing={len(rep['latest_check_failing'])}"
        )
        print("signature rounds:", rep["signature_round_histogram"])
        if rep["never_checked_outside_sample"]:
            print("never-checked OUTSIDE next sample:",
                  rep["never_checked_outside_sample"])
        if rep["behavior_changed_outside_sample"]:
            print("stale OUTSIDE next sample:",
                  rep["behavior_changed_outside_sample"])
        if rep["latest_check_failing"]:
            print("FAILING:", rep["latest_check_failing"])
        if rep.get("red_pending_refix"):
            print(
                "RED-PENDING-REFIX (rewrite awaiting driver re-sign):",
                rep["red_pending_refix"],
            )
    if args.write:
        out = os.path.join(REPO, "docs", "FRESHNESS.md")
        with open(out, "w") as f:
            f.write(render_markdown(rep))
        print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
