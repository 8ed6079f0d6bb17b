"""Smoke run: every workload at tiny size, untraced and traced, asserting
that each run exits 0, passes its checks and emits exactly the metrics
named in ``BENCHMARK.json``.

    python3 perfbench/smoke.py            # from the repository root

Takes a few minutes (one JVM start and one warm-up per run).
"""

from __future__ import annotations

import json
import numbers
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(res)}")
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            if not all(isinstance(v["value"], numbers.Real) for v in res["metrics"].values()):
                problems.append("a metric value is not a number")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
            print(f"{tag}: {'ok' if not problems else problems}", flush=True)
            if problems:
                failures.append(f"{tag}: {problems}")
    for f in failures:
        print(f"SMOKE FAILED {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
