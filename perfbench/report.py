"""Spread and comparison of saved benchmark outputs.

    python3 perfbench/report.py A/*.out                # spread of one set
    python3 perfbench/report.py A/*.out --vs B/*.out   # B against A

Each file holds the standard output of one ``perfbench/run.py`` run. For every
workload and end-to-end metric it prints the median, the quartiles and their
distance as a share of the median (``statistics.quantiles(values, n=4)``),
next to the metric's bound from ``BENCHMARK.json``. With ``--vs`` it prints
how far the second set's median moved against the first, in the direction
that is worse. Runs taken with different CPU counts are refused, and no
best-ever values are kept: every figure comes from the files given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> dict[str, list[tuple[dict, dict]]]:
    """workload -> [(env, result)] from the outputs of ``run.py``."""
    out: dict[str, list[tuple[dict, dict]]] = {}
    for p in paths:
        with open(p) as f:
            lines = f.read().strip().splitlines()
        env = next(json.loads(ln.split(" ", 1)[1]) for ln in lines
                   if ln.startswith("perfbench-env "))
        summary = next(json.loads(ln.split(" ", 1)[1]) for ln in lines
                       if ln.startswith("perfbench-summary "))
        out.setdefault(summary["workload"], []).append((env, json.loads(lines[-1])))
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--vs", nargs="+", default=[])
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(args.files)] + ([load(args.vs)] if args.vs else [])
    cpus = {env["nproc"] for s in sets for runs in s.values() for env, _ in runs}
    if len(cpus) > 1:
        print(f"refused: runs were taken with different CPU counts {sorted(cpus)}",
              file=sys.stderr)
        return 2
    ok = True
    for wl in sorted(sets[0]):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = []
            for s in sets:
                runs = s.get(wl, [])
                vals = [r["metrics"][name]["value"] for _, r in runs
                        if name in r["metrics"]]
                if len(vals) < 2:
                    cols.append(None)
                    continue
                cols.append(spread(vals))
                # the spread of setup_s is reported but not gated: set-up is
                # one JVM start and one cold pass per run, so only its median
                # is held to the bound (the --vs comparison below)
                if name != "setup_s" and cols[-1][3] > bound:
                    ok = False
            line = f"{wl:16s} {name:12s} bound {bound:.2f}"
            for c in cols:
                if c:
                    line += (f" | median {c[0]:.4g} q1 {c[1]:.4g} q3 {c[2]:.4g}"
                             f" spread {c[3]:.3f}")
            if len(cols) == 2 and all(cols):
                worse = (cols[1][0] - cols[0][0]) / cols[0][0]
                if m["better"] == "higher":
                    worse = -worse
                line += f" | worse by {worse:+.3f}"
                ok &= worse <= bound
            print(line)
        fails = sum(r["failed"] for s in sets for _, r in s.get(wl, []))
        print(f"{wl:16s} failed ops over all runs: {fails}")
        ok &= fails == 0
    print("within bounds" if ok else "OUT OF BOUNDS")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
