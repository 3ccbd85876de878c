#!/usr/bin/env python
"""Regenerate ``queries/gate_history.json`` from recorded evidence.

Two maintenance passes:

1. ``last_driver_round``: a green row (rows+schema+hash, no err) in any
   CORRECTNESS_r*.json bumps the query's last attested round. Run once
   at the start of a round, after the driver recorded the previous one.

2. ``def_hash`` sync (round-9, closes the forgotten-bump hole):
   every entry stores a tripwire hash of its query source + oracle
   text (queries.definition_hashes). When the current code's hash
   differs from the stored one, the definition REALLY changed — the
   script refreshes the hash and sets ``changed_round`` to the value
   passed via ``--round N`` (mandatory whenever any hash moved, so a
   change can never be recorded without being dated). pytest
   separately asserts stored == current, so a round that edits a
   query and skips this script fails its own suite.

``N`` is the round in which the definition was edited, not the round
that happens to run the script: a later run that only catches up the
hashes still passes the editing round. Re-run the script after a
round's LAST query or oracle edit. An edit made after the script has
run leaves a stale ``def_hash`` behind.

Usage::

    python scripts/update_gate_history.py --round N

Queries new to the registry are added automatically with
``last_driver_round: null`` and ``changed_round: <--round>``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HIST = os.path.join(
    REPO,
    "filmdb_data_warehouse___power_bi_dashboard_spark",
    "queries",
    "gate_history.json",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--round",
        type=int,
        default=None,
        help=(
            "round in which the moved definitions were edited (not the "
            "round that runs the script); required when any definition "
            "hash moved. Re-run after the round's last query or oracle edit"
        ),
    )
    args = ap.parse_args()

    with open(HIST) as fh:
        hist = json.load(fh)

    sys.path.insert(0, REPO)
    from filmdb_data_warehouse___power_bi_dashboard_spark.queries import (
        definition_hashes,
        oracles,
    )

    oracle_names = set(oracles())

    # Pass 1: fold driver evidence. An oracle-bearing entry needs a
    # fully green row (rows+schema+hash, no err). A rows-only entry
    # (no oracle by design) is attested by its one-time rows/err slot:
    # the driver records ``err: "no_oracle"`` with a non-null row
    # count — that marker is the weaker check succeeding, not a
    # failure, and must fold so the entry drops behind oracle-bearing
    # ones in the gate rotation instead of re-claiming a slot forever.
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            data = json.load(fh)
        for name, rec in data.items():
            if not isinstance(rec, dict) or name not in hist:
                continue
            if name in oracle_names:
                attested = (
                    rec.get("rows_match")
                    and rec.get("schema_match")
                    and rec.get("hash_match")
                    and not rec.get("err")
                )
            else:
                attested = (
                    rec.get("spark_rows") is not None
                    and rec.get("err") in (None, "no_oracle")
                )
            if attested:
                prev = hist[name].get("last_driver_round") or 0
                hist[name]["last_driver_round"] = max(prev, rnd)

    # Pass 2: sync definition hashes (needs the package import above
    # but no SparkSession).

    current = definition_hashes()
    moved, new = [], []
    for name, h in current.items():
        if name not in hist:
            if args.round is None:
                new.append(name)
                continue
            hist[name] = {
                "last_driver_round": None,
                "changed_round": args.round,
                "def_hash": h,
            }
        elif hist[name].get("def_hash") != h:
            if hist[name].get("def_hash") is None:
                # First-time backfill: recording a hash is not a change.
                hist[name]["def_hash"] = h
            elif args.round is None:
                moved.append(name)
            else:
                hist[name]["def_hash"] = h
                hist[name]["changed_round"] = args.round
    if moved or new:
        raise SystemExit(
            f"definition hash moved for {sorted(moved)} / new entries "
            f"{sorted(new)} — re-run with --round N to date the change"
        )

    with open(HIST, "w") as fh:
        json.dump({k: hist[k] for k in sorted(hist)}, fh, indent=1)
    n_stale = sum(
        1
        for v in hist.values()
        if v.get("last_driver_round") is not None
        and (v.get("changed_round") or 0) > v["last_driver_round"]
    )
    print(f"{len(hist)} entries, {n_stale} stale (changed since last driver row)")


if __name__ == "__main__":
    main()
