"""Maintain VERIFIED_HASHES.json — the key → source-fingerprint snapshot
behind ``registry.driver_order``'s staleness tier (VERDICT r06 item 5).

A driver-green CORRECTNESS row certifies only the source that produced it.
This tool records, per key, the ``registry.source_hash`` (builder source +
oracle SQL) the key had WHEN it was verified, so a later edit makes the key
"stale" and floats it back into the driver's ~50-key window.

Protocol (documented, order matters):
  * Run at round START, right after the driver's CORRECTNESS_r{N}.json
    lands and BEFORE any code edits — at that moment current source ==
    verified source for every key the driver just checked.
  * Keys already in the snapshot whose current hash differs are left
    UNTOUCHED unless they have a green row in the NEWEST correctness file
    (i.e. the driver re-verified the changed source); they stay stale.
  * ``--bootstrap`` seeds every currently-green key with its current hash;
    use only when a full local driver simulation (tools/drive_driver.py,
    all keys) has JUST passed against the working tree — that run is the
    verification event being recorded.

Usage:
  python tools/update_verified_hashes.py             # round-start update
  python tools/update_verified_hashes.py --bootstrap # after a full local sim
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bigdatawork_spark  # noqa: F401 — populates the registry
from bigdatawork_spark.registry import (
    QUERIES,
    correctness_rows,
    driver_verified_keys,
    is_clean_row,
    source_hash,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAP = os.path.join(ROOT, "VERIFIED_HASHES.json")


def newest_round_keys() -> set[str]:
    rows = correctness_rows()
    newest = max((rnd for rnd, _, _ in rows), default=None)
    return {k for rnd, k, row in rows if rnd == newest and is_clean_row(row)}


def retired_keys() -> list[str]:
    """Keys present in ANY CORRECTNESS_r*.json round but no longer in the
    registry — renamed/superseded keys (e.g. the r07 ``multimodal_*_stub``
    trio renamed in r08).  Emitting the split (VERDICT r08 item 5) keeps
    audits that union the CORRECTNESS history from counting these
    historical rows as unverified drift: their rows certify source that was
    deliberately retired, not source that went unverified."""
    seen = {k for _, k, _ in correctness_rows()}
    return sorted(seen - set(QUERIES))


def main() -> None:
    bootstrap = "--bootstrap" in sys.argv
    try:
        with open(SNAP) as f:
            snap = json.load(f)
    except (OSError, ValueError):
        snap = {}

    verified = driver_verified_keys() & set(QUERIES)
    fresh = newest_round_keys() if not bootstrap else verified
    updated, added, stale = 0, 0, []
    for k in sorted(verified):
        cur = source_hash(k)
        if k not in snap:
            snap[k] = cur
            added += 1
        elif snap[k] != cur:
            if k in fresh:  # driver re-verified the changed source
                snap[k] = cur
                updated += 1
            else:
                stale.append(k)
    # drop entries for keys no longer registered
    dropped = [k for k in snap if k not in QUERIES]
    for k in dropped:
        del snap[k]

    with open(SNAP, "w") as f:
        json.dump(dict(sorted(snap.items())), f, indent=0, sort_keys=True)
        f.write("\n")
    print(
        f"snapshot: {len(snap)} keys ({added} added, {updated} updated, "
        f"{len(dropped)} dropped); {len(stale)} stale (will re-verify): "
        f"{stale[:10]}{'...' if len(stale) > 10 else ''}"
    )
    ret = retired_keys()
    print(
        f"current-vs-retired split: {len(snap)} current registry keys "
        f"snapshotted; {len(ret)} RETIRED keys appear in CORRECTNESS "
        f"history but not the registry (renamed/superseded — their "
        f"historical rows are not unverified drift): {ret}"
    )


if __name__ == "__main__":
    main()
