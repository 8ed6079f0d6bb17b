"""Compare two sets of benchmark results (the report files run.py writes
under ``.bench_build/perfbench/results/``).

    python3 perfbench/compare.py A1.json [A2.json ...] -- B1.json [B2.json ...]

Refuses (exit 2) to compare results from different hosts (cpu count,
model or memory differ), different workloads or different trace modes:
numbers from two machines are not evidence of a change.  Otherwise prints,
per metric, each side's median and quartiles and B's change against A as a
share of A's median, flagged where it is worse than the bound in
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    a, b = load(argv[:i]), load(argv[i + 1:])
    if not a or not b:
        print(__doc__, file=sys.stderr)
        return 2
    runs = a + b
    for key in ("host", "cpus_host", "workload", "trace"):
        vals = {json.dumps(r["provenance"][key], sort_keys=True) for r in runs}
        if len(vals) > 1:
            print(f"refusing to compare: {key} differs between results: {sorted(vals)}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    traced = runs[0]["provenance"]["trace"]
    section = "per_layer" if traced else "e2e"
    metrics = spec["per_layer"] if traced else spec["end_to_end"]
    print(f"workload {runs[0]['provenance']['workload']}: A n={len(a)}, B n={len(b)}")
    print(f"{'metric':34s} {'A median':>12s} {'A q1..q3':>25s} {'B median':>12s} {'B-A':>8s}")
    worse = 0
    for m in metrics:
        xa = [r[section][m["name"]] for r in a]
        xb = [r[section][m["name"]] for r in b]
        qa, qb = quartiles(xa), quartiles(xb)
        ma, mb = statistics.median(xa), statistics.median(xb)
        delta = (mb - ma) / ma if ma else float("nan")
        flag = ""
        if "bound" in m:
            bad = delta > m["bound"] if m["better"] == "lower" else -delta > m["bound"]
            flag = f"WORSE than bound {m['bound']}" if bad else ""
            worse += bad
        print(f"{m['name']:34s} {ma:12.4g} {qa[0]:12.4g}..{qa[2]:<12.4g} {mb:12.4g} {delta:+8.1%} {flag}")
    print(f"failed/attempted A: {sum(r['failed'] for r in a)}/{sum(r['attempted'] for r in a)}, "
          f"B: {sum(r['failed'] for r in b)}/{sum(r['attempted'] for r in b)}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
