"""In-memory spans recorded from the benchmark's side of each layer call,
plus the Spark-side counters read after a traced window.

Nothing here reaches inside the package: a layer is observed either
around the call the benchmark makes, or by wrapping a module attribute
the package looks up at call time (``sources.snapshots.write_snapshot``,
which ``start_ingest_snapshots`` imports when it starts; and
``queries._common.load_table``, which every query's ``_t`` helper calls).
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution")


class Tracer:
    """Spans (name, start, end, parent, trace id, thread) kept in memory and
    written out once at exit.  Disabled, every method is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        trace = sid if new_trace or parent is None else parent["trace"]
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": trace, "thread": threading.current_thread().name,
               "group": parent.get("group") if parent else None, "start": time.time(), **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanning wrapper; return the undo."""
        original = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _rest(spark, path: str):
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


def spark_jobs(spark) -> tuple[list[dict], dict]:
    """All retained jobs (with epoch start/end) and stages by id from the UI
    REST API; read once after the traced window."""
    jobs = []
    for j in _rest(spark, "jobs"):
        jobs.append({"id": j["jobId"], "group": j.get("jobGroup"),
                     "start": _epoch(j.get("submissionTime")),
                     "end": _epoch(j.get("completionTime")),
                     "stages": j.get("stageIds", [])})
    stages = {}
    for s in _rest(spark, "stages"):
        stages.setdefault(s["stageId"], []).append(s)
    return jobs, stages


def window_spark_metrics(jobs: list[dict], stages: dict, t0: float, t1: float) -> dict:
    """Counts, busy time and executor totals of the jobs submitted in
    [t0, t1]; the driver gap is the part of the window with no job running."""
    sel = [j for j in jobs if j["start"] is not None and t0 <= j["start"] <= t1]
    ivs = sorted((j["start"], min(j["end"] or t1, t1)) for j in sel)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            busy += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += (cur_e - cur_s) if cur_e is not None else 0.0
    stage_ids = {sid for j in sel for sid in j["stages"]}
    attempts = [a for sid in stage_ids for a in stages.get(sid, [])]

    def total(key):
        return sum(a.get(key, 0) or 0 for a in attempts)

    return {
        "spark.jobs": len(sel),
        "spark.stages": len(stage_ids),
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": (t1 - t0) - busy,
        "spark.executor_run_s": total("executorRunTime") / 1000.0,
        "spark.gc_s": total("jvmGcTime") / 1000.0,
        "spark.shuffle_write_bytes": total("shuffleWriteBytes"),
        "spark.spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
    }


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Count each job on the innermost span open at its submission on the
    side that submitted it: jobs in the client's job group go to client
    spans, all others (stream threads) to spans of no group, such as the
    ``write_snapshot`` calls the stream makes."""
    for s in spans:
        s["jobs"] = 0
    for j in jobs:
        if j["start"] is None:
            continue
        side = "client" if j["group"] == "client" else None
        best = None
        for s in spans:
            if s.get("group") == side and s["start"] <= j["start"] <= s["end"]:
                if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                    best = s
        if best is not None:
            best["jobs"] += 1


class ProgressLog:
    """Collects ``StreamingQueryProgress`` events of every stream in the
    session through a listener (traced runs only)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        log = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.append({"t": time.time(), "rows": p.numInputRows,
                            "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def tail_pct(values: list[float], cap: float = 0.99) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, at most
    ``cap``, and its value."""
    n = len(values)
    q = min(cap, max(0.5, 1.0 - 10.0 / n)) if n else 0.5
    return q, pct(values, q)


def trigger_metrics(events: list[dict], t0: float, t1: float) -> dict:
    """Per-phase p50/p99 of the data-carrying triggers that ended in [t0, t1]."""
    sel = [e for e in events if t0 <= e["t"] <= t1 and e["rows"] > 0]
    out: dict = {"trigger.count": len(sel)}
    out["trigger.rows_p50"] = pct([e["rows"] for e in sel], 0.5) if sel else 0
    for ph in PHASES:
        vals = [float(e["ms"].get(ph, 0)) for e in sel] or [0.0]
        out[f"trigger.{ph}_ms_p50"] = pct(vals, 0.5)
        out[f"trigger.{ph}_ms_p99"] = pct(vals, 0.99)
    busy = sum(float(e["ms"].get("triggerExecution", 0)) for e in sel) / 1000.0
    out["trigger.idle_frac"] = max(0.0, 1.0 - busy / (t1 - t0))
    return out
