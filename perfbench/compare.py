"""Compare the end-to-end metrics of two sets of benchmark results.

    python3 perfbench/compare.py --base .perfbench/results/A-*.json --new B-*.json

Each file is a result ``run.py`` wrote under ``.perfbench/results``.
The comparison is refused (exit code 3) when any two results differ
in a run fact other than the seed, the source revision and the trace
flag: numbers taken on another core count, heap, corpus, key list or
run length are not comparable.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

import run
import stats


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True, type=Path)
    ap.add_argument("--new", nargs="+", required=True, type=Path)
    args = ap.parse_args(argv)
    sides = {
        side: [json.loads(p.read_text()) for p in paths]
        for side, paths in (("base", args.base), ("new", args.new))
    }
    results = sides["base"] + sides["new"]
    ref = results[0]["facts"]
    for r in results[1:]:
        if not run.comparable(ref, r["facts"]):
            diff = sorted(
                k for k in set(ref) | set(r["facts"])
                if k not in run.VARYING_FACTS and ref.get(k) != r["facts"].get(k)
            )
            print(f"refused: run facts differ in {diff}", file=sys.stderr)
            return 3
    for name in run.END_TO_END:
        unit = run.unit_of(name)
        medians, parts = {}, []
        for side, rs in sides.items():
            values = [r["end_to_end"][name] for r in rs]
            medians[side] = stats.median(values)
            spread = f", spread {stats.spread(values):.3f}" if len(values) > 1 else ""
            parts.append(f"{side} {medians[side]:.4f} {unit} (n={len(values)}{spread})")
        change = (medians["new"] - medians["base"]) / medians["base"] * 100
        print(f"{name}: {', '.join(parts)}, {change:+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
