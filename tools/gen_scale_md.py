"""Render the 100x-gate scale-evidence table from tools/scale_run.py
output.

Usage: python tools/gen_scale_md.py /tmp/scale_run_r7.json
Prints a markdown section; append it to SCALE.md after reviewing.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    doc = json.load(open(sys.argv[1]))
    tiers = doc["tiers"]
    names = list(tiers[0]["queries"])
    print("| query | " + " | ".join(
        f"scale {t['scale']} (s / us-per-fact-row)" for t in tiers) + " |")
    print("|---|" + "---|" * len(tiers))
    for name in names:
        cells = []
        for t in tiers:
            q = t["queries"][name]
            cells.append(f"{q['sec']:.2f} / {q['us_per_row']:.3f}")
        print(f"| `{name}` | " + " | ".join(cells) + " |")
    print()
    print("| plan probe (q7 star) | " + " | ".join(
        f"scale {t['scale']}" for t in tiers) + " |")
    print("|---|" + "---|" * len(tiers))
    for key in ("broadcast_joins", "sort_merge_joins", "exchanges"):
        print(f"| {key} | " + " | ".join(
            str(t["q7_plan"][key]) for t in tiers) + " |")


if __name__ == "__main__":
    main()
