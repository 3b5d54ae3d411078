"""Summarize and compare benchmark records (the JSON written by ``--out``).

    python3 perfbench/compare.py A1.json A2.json ...              # one set
    python3 perfbench/compare.py A*.json --against B*.json        # two sets

For each end-to-end metric, and each per-layer metric of the traced records,
it prints the median over the records, the quartile spread (IQR as a share
of the median) and, with ``--against``, the ratio of the first set's median
to the second's.  Records are only comparable when they
come from the same workload on the same core count: it refuses to mix
``nproc`` values (records taken at ``local[32]`` do not compare with a
4-core box) or workloads, and it never mixes traced with untraced records
except to report the tracing overhead of the end-to-end metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartile_spread  # noqa: E402


class Incomparable(ValueError):
    pass


def load(paths) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def check_comparable(records) -> None:
    """Raise Incomparable unless every record has one workload and one core
    count."""
    for key in ("nproc", "workload"):
        seen = {r.get(key) for r in records}
        if len(seen) != 1:
            raise Incomparable(f"records differ in {key}: {sorted(map(str, seen))}")


def summary(records, section="end_to_end") -> dict[str, dict]:
    names = sorted({k for r in records for k in r.get(section, {})})
    out = {}
    for k in names:
        vals = [r[section][k]["value"] for r in records if k in r.get(section, {})]
        row = {"n": len(vals), "median": statistics.median(vals)}
        if len(vals) >= 2:
            row["spread"] = quartile_spread(vals)
        out[k] = row
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("records", nargs="+")
    ap.add_argument("--against", nargs="+", default=[])
    args = ap.parse_args(argv)
    a, b = load(args.records), load(args.against)
    try:
        check_comparable(a + b)
        if b and {r["trace"] for r in a} != {r["trace"] for r in b}:
            print("note: traced vs untraced; the ratio is the tracing overhead")
    except Incomparable as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    for section in ("end_to_end", "per_layer"):
        sa, sb = summary(a, section), summary(b, section)
        if sa:
            print(f"[{section}]")
        for k, row in sa.items():
            line = f"{k:32s} n={row['n']:<3d} median={row['median']:<14.6g}"
            if "spread" in row:
                line += f" spread={row['spread']:.3f}"
            if k in sb and sb[k]["median"]:
                line += f"  ratio={row['median'] / sb[k]['median']:.3f}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
