"""Compare two sets of benchmark runs metric by metric.

    python3 perfbench/compare.py A_DIR [B_DIR] [--a-trace 0] [--b-trace 0]

Each directory holds run records written by ``run.py`` (``--out``).  For
every workload and end-to-end metric the tool prints each set's median
and its spread (distance between the first and third quartile, as a share
of the median).  With two sets it also prints how far B's median is from
A's, in the direction that is worse for the metric, and whether that stays
within the metric's bound in BENCHMARK.json ("agree") or not ("WORSE").
A metric whose spread in either set exceeds its bound is "unresolved".

Comparing untraced runs (A) with traced runs (B, ``--b-trace 1``) gives the
tracing overhead per workload.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path: str, trace: int) -> dict[str, dict[str, list[float]]]:
    """{workload: {metric: [value per run]}} from the run records in
    ``path`` made with ``--trace trace``."""
    out: dict[str, dict[str, list[float]]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        prov = rec["provenance"]
        if prov["trace"] != trace or not rec["result"]["correct"]:
            continue
        m = out.setdefault(prov["workload"], {})
        for name, value in rec["end_to_end"].items():
            m.setdefault(name, []).append(float(value))
    return out


def spread(values: list[float]) -> float:
    """Interquartile distance over the median (0 for fewer than 2 runs)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a``."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--a-trace", type=int, default=0)
    ap.add_argument("--b-trace", type=int, default=0)
    ap.add_argument("--benchmark",
                    default=os.path.join(os.path.dirname(HERE),
                                         "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    a = load_runs(args.a, args.a_trace)
    b = load_runs(args.b, args.b_trace) if args.b else {}
    bad = 0
    print(f"{'workload':10} {'metric':16} {'n':>3} {'median A':>12} "
          f"{'spread A':>8} {'median B':>12} {'spread B':>8} "
          f"{'worse by':>8} {'bound':>6}  verdict")
    for wl in sorted(a):
        for name, m in spec.items():
            va = a[wl].get(name, [])
            vb = b.get(wl, {}).get(name, [])
            if not va:
                continue
            ma, sa = statistics.median(va), spread(va)
            row = (f"{wl:10} {name:16} {len(va):3d} {ma:12.4f} {sa:8.3f}")
            if not vb:
                verdict = "ok" if name == "setup_s" or sa <= m["bound"] \
                    else "unsteady"
                bad += verdict != "ok"
                print(f"{row} {'':12} {'':8} {'':8} {m['bound']:6.2f}  {verdict}")
                continue
            mb, sb = statistics.median(vb), spread(vb)
            w = worse_by(ma, mb, m["better"])
            if name != "setup_s" and max(sa, sb) > m["bound"]:
                verdict = "unresolved"
            elif w > m["bound"]:
                verdict = "WORSE"
            else:
                verdict = "agree"
            bad += verdict != "agree"
            print(f"{row} {mb:12.4f} {sb:8.3f} {w:+8.3f} {m['bound']:6.2f}"
                  f"  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
