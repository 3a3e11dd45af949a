"""Compare two sets of benchmark runs, refusing runs on different inputs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the per-run records ``run.py`` writes to
``.bench_work/results/`` (``*-t0-*.json``). For every workload present on
both sides it prints, per end-to-end metric, each side's median and
quartile spread and the change of the medians. It exits with status 3,
comparing nothing, when a workload's generator parameters differ between
the sides or when the same workload and seed were generated with
different fingerprints.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import FingerprintMismatch, check_fingerprints, quartile_spread


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*-t0-*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0 and "metrics" in rec:
            out.append(rec)
    return out


def fingerprints(records: list[dict]) -> dict:
    fps: dict[str, dict] = {}
    for r in records:
        key = f"{r['workload']}/{r['seed']}"
        if fps.setdefault(key, r["fingerprint"]) != r["fingerprint"]:
            raise FingerprintMismatch(f"runs of {key} disagree on their inputs")
        # the generator parameters must match even across different seeds
        fps[r["workload"]] = r["fingerprint"]["params"]
    return fps


def compare(base: list[dict], new: list[dict]) -> list[str]:
    check_fingerprints(fingerprints(base), fingerprints(new))
    lines = []
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        a = [r for r in base if r["workload"] == w]
        b = [r for r in new if r["workload"] == w]
        lines.append(f"{w}: {len(a)} base runs, {len(b)} new runs")
        for m in a[0]["metrics"]:
            xa = [r["metrics"][m]["value"] for r in a if m in r["metrics"]]
            xb = [r["metrics"][m]["value"] for r in b if m in r["metrics"]]
            if not xa or not xb:
                continue
            ma, mb = statistics.median(xa), statistics.median(xb)
            spread = lambda xs: (f"{quartile_spread(xs):.3f}"  # noqa: E731
                                 if len(xs) >= 2 else "n/a")
            lines.append(
                f"  {m:<20} base {ma:>12.4g} (spread {spread(xa)})  "
                f"new {mb:>12.4g} (spread {spread(xb)})  "
                f"change {100 * (mb - ma) / ma:+.1f}% [{a[0]['metrics'][m]['unit']}]"
            )
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        lines = compare(load(argv[0]), load(argv[1]))
    except FingerprintMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 3
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
