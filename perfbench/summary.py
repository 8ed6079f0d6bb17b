"""Trace summary: per-layer self time, counts and ratios from a span file.

    python3 perfbench/summary.py <spans.jsonl> [<result.json>]

A layer's self time is its spans' duration minus the part covered by
their child spans.  With the run's result file, the summary is limited to
the traced window and checks that the client thread's self times account
for the window's wall time.
"""

from __future__ import annotations

import json
import sys


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time (duration minus the union of its children)."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def summarize(spans: list[dict], t0: float | None = None, t1: float | None = None) -> dict:
    """Per-layer count / total / self seconds; ratios with their bases; the
    share of the window the client thread's self times account for."""
    if t0 is not None:
        spans = [s for s in spans if s["start"] >= t0 and s["end"] <= t1 + 60]
    st = self_times(spans)
    layers: dict = {}
    for s in spans:
        layer = s["name"] if s["name"].split(".")[0] in (
            "query", "testdata", "snapshot", "gen", "session") else "client." + s["name"]
        d = layers.setdefault(layer, {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
        d["count"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += st[s["id"]]
        d["jobs"] += s.get("jobs", 0)
    out: dict = {"layers": layers}
    by_name = {k: v["count"] for k, v in layers.items()}
    ratios = {}
    n_actions = by_name.get("query.action", 0)
    if n_actions:
        ratios["testdata.loads per query"] = [by_name.get("testdata.load", 0), n_actions]
        ratios["jobs per query action"] = [layers["query.action"]["jobs"], n_actions]
    if by_name.get("snapshot.write"):
        ratios["jobs per commit"] = [layers["snapshot.write"]["jobs"], by_name["snapshot.write"]]
    out["ratios"] = {k: {"value": (a / b if b else None), "num": a, "base": b} for k, (a, b) in ratios.items()}
    if t0 is not None:
        client = [s for s in spans if s.get("group") == "client" and s["start"] <= t1]
        threads = {s["thread"] for s in client}
        wall = t1 - t0
        acc = {th: sum(st[s["id"]] for s in client if s["thread"] == th) / wall for th in threads}
        out["accounted_frac"] = acc
        out["accounted_ok"] = all(0.9 <= a <= 1.1 for a in acc.values()) if acc else False
    return out


def main(argv: list[str]) -> int:
    if not argv or len(argv) > 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    t0 = t1 = None
    if len(argv) == 2:
        with open(argv[1]) as f:
            res = json.load(f)
        t0, t1 = res["traced_window"]
    s = summarize(spans, t0, t1)
    print(f"{'layer':32s} {'count':>7s} {'total_s':>9s} {'self_s':>9s} {'jobs':>6s}")
    for name, d in sorted(s["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:32s} {d['count']:7d} {d['total_s']:9.3f} {d['self_s']:9.3f} {d['jobs']:6d}")
    for k, r in s["ratios"].items():
        print(f"ratio {k}: {r['num']} / {r['base']} = {r['value']}")
    if "accounted_frac" in s:
        print(f"client self time / traced window: {s['accounted_frac']} ok={s['accounted_ok']}")
        return 0 if s["accounted_ok"] else 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
