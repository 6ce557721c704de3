#!/usr/bin/env python
"""Round-note generator: the driver-evidence bookkeeping for COVERAGE.md.

Prints (a) the planned-vs-recorded window diff for the latest
CORRECTNESS_r*.json — the check that the rotation the code PLANNED is
the one the driver actually RECORDED (VERDICT r9 item 6: the
window-integrity test only fires at round start; this makes drift
visible in the committed round note too), (b) the staleness histogram,
and (c) the window plan for the NEXT round. The registry order itself is
derived from the same files at import (`queries.driver_order`).

Usage: python scripts/round_note.py   (from the repo root; no Spark)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def evidence() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    max_round = 0
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"r0*(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, max_round


def main() -> None:
    from osmesa_spark import queries as Q

    reg = list(Q.registry())
    window = reg[:50]
    latest, max_round = evidence()

    # (a) planned vs recorded for the latest round
    latest_file = os.path.join(ROOT, f"CORRECTNESS_r{max_round:02d}.json")
    if not os.path.exists(latest_file):
        latest_file = os.path.join(ROOT, f"CORRECTNESS_r{max_round}.json")
    with open(latest_file) as f:
        recorded = list(json.load(f))
    rec_set, win_set = set(recorded), set(window)
    print(f"latest recorded round: r{max_round} ({len(recorded)} queries)")
    if rec_set == win_set:
        print("planned-vs-recorded: IDENTICAL — current window matches "
              f"r{max_round}'s record (rotation for the next round still "
              "pending if this is round start)")
    else:
        print("planned-vs-recorded diff (expected non-empty right after a "
              "rotation; must be empty at round close for the round being "
              "recorded):")
        only_rec = sorted(rec_set - win_set)
        only_win = sorted(win_set - rec_set)
        print(f"  recorded-but-not-in-current-window ({len(only_rec)}): "
              f"{only_rec}")
        print(f"  in-current-window-but-not-recorded ({len(only_win)}): "
              f"{only_win}")

    # (b) staleness histogram
    hist: dict[int, int] = {}
    for n in reg:
        hist[latest.get(n, 0)] = hist.get(latest.get(n, 0), 0) + 1
    print("staleness histogram (latest evidence round -> #queries; 0 = "
          "never driver-checked):", dict(sorted(hist.items())))

    # (c) next-round window plan, computed with the integrity-test rules
    nxt = max_round + 1
    stale_next = sorted(
        n for n in reg if latest.get(n, 0) <= nxt - 5
        and n not in win_set  # current window gets checked this round
    )
    osm_next = sorted(
        n for n in reg
        if n.startswith("osm_") and n not in win_set
        and latest.get(n, 0) < nxt - 1
    )
    need = stale_next + [n for n in osm_next if n not in stale_next]
    print(f"r{nxt + 1} window must hold ({len(need)} of 50): "
          f"{len(stale_next)} stale + {len([n for n in osm_next if n not in stale_next])} osm-rule-3")
    for label, names in (("stale", stale_next), ("osm", osm_next)):
        print(f"  {label} ({len(names)}): {names}")


if __name__ == "__main__":
    main()
