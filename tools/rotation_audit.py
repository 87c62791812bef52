"""Correctness-window tool. The driver's correctness gate checks
``queries()`` in dict order and stops after the first 50 entries;
this tool computes which 50 those should be and audits the window the
registry presents.

Reads CORRECTNESS_r*.json (the driver's per-round rows) and the
registry. The next round is the highest round seen + 1. Every
registered name is ranked by (class, latest driver round, name):

- class 0: never driver-checked, or would breach the SLA (go more than
  SLA_ROUNDS rounds without a driver row) if skipped next round;
- class 1: listed in ``registry.TOUCHED`` (kernel changed since its
  last driver row);
- class 2: everything else, oldest round first.

Usage:
    python tools/rotation_audit.py          # audit: one JSON line
    python tools/rotation_audit.py --write  # regenerate the window module

The audit exits 1 if a never-checked or would-breach entry is missing
from the registry's first 50. ``--write`` writes the first 50 ranked
names to ``lake_satellite_image_etl_spark/_window.py``; it exits 1 and
writes nothing if classes 0 and 1 together exceed 50 or ``TOUCHED``
names an unregistered query.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: no green entry goes more than this many rounds without a driver row
SLA_ROUNDS = 6
#: the driver's correctness gate checks this many queries() entries
WINDOW_SIZE = 50
WINDOW_PATH = os.path.join(REPO_ROOT, "lake_satellite_image_etl_spark", "_window.py")


def load_latest_rounds() -> dict[str, int]:
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        try:
            with open(f) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for k in rows:
            latest[k] = max(latest.get(k, 0), rnd)
    return latest


def compute_window(
    names: list[str],
    latest: dict[str, int],
    touched: tuple[str, ...],
    next_round: int,
) -> list[str]:
    """The first WINDOW_SIZE of ``names`` ranked by (class, latest
    round, name). Raises ValueError if ``touched`` names a query not in
    ``names`` or if classes 0 and 1 do not fit in the window."""
    unknown = sorted(set(touched) - set(names))
    if unknown:
        raise ValueError(f"TOUCHED names unregistered queries: {unknown}")

    def cls(n: str) -> int:
        if n not in latest or next_round - latest[n] > SLA_ROUNDS:
            return 0
        return 1 if n in touched else 2

    forced = sum(cls(n) < 2 for n in names)
    if forced > WINDOW_SIZE:
        raise ValueError(
            f"{forced} due or touched queries exceed the {WINDOW_SIZE}-slot window"
        )
    return sorted(names, key=lambda n: (cls(n), latest.get(n, 0), n))[:WINDOW_SIZE]


def write_window(window: list[str]) -> None:
    body = "".join(f'    "{n}",\n' for n in window)
    with open(WINDOW_PATH, "w") as f:
        f.write(
            "# Generated by `python tools/rotation_audit.py --write`; do not edit.\n"
            f"WINDOW = (\n{body})\n"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--write",
        action="store_true",
        help="regenerate lake_satellite_image_etl_spark/_window.py",
    )
    args = ap.parse_args()

    from lake_satellite_image_etl_spark import registry

    latest = load_latest_rounds()
    max_round = max(latest.values(), default=0)
    next_round = max_round + 1
    if args.write:
        # registration order, not load_all(): a stale WINDOW naming a
        # removed query must not block its own regeneration
        registry.register_all()
        try:
            window = compute_window(
                list(registry.QUERIES), latest, registry.TOUCHED, next_round
            )
        except ValueError as e:
            print(f"rotation_audit: {e}; nothing written", file=sys.stderr)
            return 1
        write_window(window)
        return 0

    queries, oracles = registry.load_all()
    names = list(queries)

    hist: dict[int, int] = {}
    for n in names:
        hist[latest.get(n, 0)] = hist.get(latest.get(n, 0), 0) + 1

    never = sorted(n for n in names if n not in latest)
    # an entry last green at round r is (next_round - r) rounds stale
    # when round next_round runs; it breaches if that exceeds SLA
    would_breach = sorted(
        n
        for n in names
        if n in latest and next_round - latest[n] > SLA_ROUNDS
    )
    oldest_round = min((latest[n] for n in names if n in latest), default=0)
    oldest_tier = sorted(
        n for n in names if latest.get(n) == oldest_round
    )

    window = names[:WINDOW_SIZE]
    wset = set(window)
    breach_missing = [n for n in would_breach if n not in wset]
    never_missing = [n for n in never if n not in wset]
    oldest_missing = [n for n in oldest_tier if n not in wset]
    comp: dict[str, int] = {}
    for n in window:
        tier = f"r{latest[n]}" if n in latest else "never"
        comp[tier] = comp.get(tier, 0) + 1

    report = {
        "registered": len(names),
        "oracled": len(oracles),
        "max_seen_round": max_round,
        "audited_next_round": next_round,
        "staleness_histogram": {
            f"r{k}" if k else "never": v for k, v in sorted(hist.items())
        },
        "never_checked": never,
        "would_breach_if_skipped": would_breach,
        "window_size": len(window),
        "window_tier_composition": dict(
            sorted(comp.items(), key=lambda kv: kv[0])
        ),
        "sla_breach_entries_missing_from_window": breach_missing,
        "never_checked_missing_from_window": never_missing,
        # informational, not gating: the oldest tier is usually due the
        # round after next, so partial coverage is not a breach
        "oldest_tier": f"r{oldest_round}",
        "oldest_tier_missing_from_window": oldest_missing,
        "ok": not breach_missing and not never_missing,
    }
    print(json.dumps(report))
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
