"""Record per-query content hashes for the change-aware driver rotation
(VERDICT r11 item 1).

``QUERY_HASHES.json`` maps each query name to the content hash
(``registry.query_hash``: function source + oracle SQL + the transitive
source closure of every engine symbol the query references) it had WHEN
ITS DRIVER EVIDENCE WAS PRODUCED. ``load_all()`` compares current hashes
against this file; a mismatch means the green evidence describes code that
no longer exists, and the name outranks every unchanged green in the next
driver window.

Run modes:

    python tools/update_query_hashes.py
        Round-start mode: for every name with a GREEN row in the LATEST
        CORRECTNESS_r{N}.json, record its current hash. Run this FIRST
        THING in a round — before any query edit — so the recorded hash is
        exactly the hash the driver just checked (the driver runs at the
        prior round's close SHA, and no query edit has landed yet).

    python tools/update_query_hashes.py --seed-all
        One-time seeding: record every registered name. Only valid at a
        SHA where ALL queries have just been verified wholesale (the r11
        close ran the full 440-query oracle sweep at three SFs).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _latest_green_names() -> tuple[int, set[str]]:
    latest_round, latest_path = -1, None
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m and int(m.group(1)) > latest_round:
            latest_round, latest_path = int(m.group(1)), path
    if latest_path is None:
        return -1, set()
    with open(latest_path) as f:
        rows = json.load(f)
    green = {
        name
        for name, row in rows.items()
        if isinstance(row, dict)
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and not row.get("err")
    }
    return latest_round, green


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed-all", action="store_true")
    ap.add_argument(
        "--out", default=os.path.join(REPO, "QUERY_HASHES.json")
    )
    args = ap.parse_args()

    from ab_inbev_big_data_case_spark import registry

    registry.load_all()

    recorded = registry.recorded_hashes()
    if args.seed_all:
        names: set[str] = set(registry.QUERIES)
        origin = "seed-all"
    else:
        rnd, names = _latest_green_names()
        names &= set(registry.QUERIES)
        origin = f"CORRECTNESS_r{rnd:02d} greens"

    n_new = n_updated = 0
    for name in sorted(names):
        h = registry.query_hash(name)
        if name not in recorded:
            n_new += 1
        elif recorded[name] != h:
            n_updated += 1
        recorded[name] = h

    with open(args.out, "w") as f:
        json.dump(dict(sorted(recorded.items())), f, indent=0, sort_keys=True)
        f.write("\n")
    print(
        f"recorded {len(names)} hashes from {origin}: "
        f"{n_new} new, {n_updated} updated, {len(recorded)} total"
    )
    return 0


if __name__ == "__main__":
    main()
