"""The workloads.  Each times the program only through its public entry
points and checks the program's outputs against a reference.

A workload object is built once per run (its set-up).  ``window`` then
measures for a number of seconds and may be called again (a run measures
again under CPU steal; a traced run adds a traced window).  ``finish``
checks the end state, ``invalid`` says why a window cannot be reported,
``layer_report`` gives the workload's own layer figures of a traced
window, and ``close`` releases what set-up started.  Every window returns
the end-to-end samples:

- ``per_query``: each query's latencies (``pass_s`` sums their medians);
- ``latency``: per-request latency samples (lines or queries).
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

from gen import EXTRA_CATS, SEQ_RE, WORDS, Generator, check_rows, reference_parse, write_file
from spans import pct, tail_pct
from syslog_handler_with_clickhouse_spark.sources import snapshots
from syslog_handler_with_clickhouse_spark.streaming.ingest import TRIGGER_SECONDS, start_ingest_snapshots

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    tracer: object
    tiny: bool = False
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        print(f"# FAILED {what}", file=sys.stderr)


@dataclass
class Window:
    t0: float
    t1: float
    passes: list  # wall time of each complete pass
    per_query: dict  # query name -> its latencies in the window
    latency: list
    extra: dict = field(default_factory=dict)

    def report(self) -> dict:
        return {**{k: v for k, v in self.extra.items() if k != "seqs"}, "per_query_s": self.per_query}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_query(ctx: Ctx, name: str, build, action, traced: bool):
    """build → (traced: forced physical planning) → action, each in a span."""
    tr = ctx.tracer
    with tr.span(name, group="client"):
        with tr.span("query.build", group="client"):
            df = build()
        if traced:
            with tr.span("query.plan", group="client"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("query.action", group="client"):
            return action(df)


class VersionWatch:
    """First time each snapshot version is seen through ``latest_version``
    (a manifest listing: no Spark job runs in the poll)."""

    def __init__(self, store: str) -> None:
        self.store = store
        self.seen: dict[int, float] = {}
        self.last = 0

    def poll(self) -> int:
        v = snapshots.latest_version(self.store)
        if v > self.last:
            now = time.time()
            for k in range(self.last + 1, v + 1):
                self.seen[k] = now
            self.last = v
        return v


def _file_versions(spark, store: str, last: int, base: int) -> dict[str, int]:
    """Data file base name → the snapshot version after ``base`` that added it."""
    out: dict[str, int] = {}
    prev = {os.path.basename(f) for f in snapshots.read_snapshot(spark, store, version=base).inputFiles()}
    for v in range(base + 1, last + 1):
        files = {os.path.basename(f) for f in snapshots.read_snapshot(spark, store, version=v).inputFiles()}
        for f in files - prev:
            out[f] = v
        prev = files
    return out


def _store_rows(spark, store: str) -> list[tuple]:
    """(file, Device, Severity, Categories, Message) of the latest snapshot."""
    t = (
        snapshots.read_snapshot(spark, store)
        .select(F.input_file_name().alias("f"), "Device", "Severity", "Categories", "Message")
        .toArrow()
        .to_pydict()
    )
    return list(zip([os.path.basename(f) for f in t["f"]], t["Device"], t["Severity"],
                    t["Categories"], t["Message"]))


def _check_lines(ctx: Ctx, gen: Generator, rows: list[tuple], seqs: range) -> None:
    chk = check_rows(gen, [r[1:] for r in rows], seqs)
    ctx.attempted += chk.attempted
    if chk.failed:
        ctx.fail(f"lines {chk.as_dict()}", chk.failed)
    ctx.notes["lines"] = chk.as_dict()


# ----------------------------------------------------------------------
# live_tail
# ----------------------------------------------------------------------


class LiveTail:
    """Reads beside writes on one snapshot store.

    Ingest: an open-loop generator thread publishes one file every
    ``FILE_EVERY`` s at ``RATE`` lines/s plus a ``BURST``-line file every
    ``BURST_EVERY`` s, into a processing-time ingest stream.  The schedule
    sits on the trigger's wall-clock grid (triggers fire on multiples of
    ``TRIGGER_SECONDS`` since the epoch), offset by half a file interval so
    no publish races a trigger.  Reads: one closed-loop client runs the
    six-query tail mix through ``read_snapshot``.  One pass = one round of
    the mix; one latency sample = one line, due time → first version
    containing it seen through ``latest_version`` (freshness).
    """

    RATE = 2000
    FILE_EVERY = 0.25
    BURST = 10_000  # the reference's BufferLimit
    BURST_EVERY = 20.0
    BURST_AT = 3.0625  # offset of the first burst in a window
    PRESEED = (2, 5000)  # commits × lines written before the stream starts
    LATE_MAX_S = 1.0  # generator lateness beyond which the run is invalid
    BACKLOG_MAX_S = 5 * TRIGGER_SECONDS  # max age of a line still unseen at window end
    MIX = ("errors_per_device", "errors_per_device_minute", "category",
           "substring", "last_60s", "device_latest")

    def __init__(self, ctx: Ctx) -> None:
        from syslog_handler_with_clickhouse_spark.functions.parse import parsed_logs
        from syslog_handler_with_clickhouse_spark.schema import RAW_SCHEMA

        self.ctx = ctx
        spark = ctx.spark
        if ctx.tiny:
            self.RATE, self.BURST, self.PRESEED = 400, 1000, (1, 500)
        self.gen = Generator(ctx.seed)
        rng = random.Random(ctx.seed)
        self.params = {"token": rng.choice(EXTRA_CATS), "word": rng.choice(WORDS)}
        d = ctx.run_dir
        self.store, self.in_dir, self.staging = (os.path.join(d, x) for x in ("store", "in", "staging"))
        os.makedirs(self.in_dir)
        os.makedirs(self.staging)
        self.t_setup = time.time()
        commits, per = self.PRESEED
        for _ in range(commits):
            dev, lines = self.gen.batch(per, origin=time.time())
            raw = spark.createDataFrame([(ln, dev) for ln in lines], RAW_SCHEMA)
            snapshots.write_snapshot(parsed_logs(raw), self.store, stat_cols=["Timestamp"])
        self.params["device"] = max(set(self.gen.devices), key=self.gen.devices.count)
        self.watch = VersionWatch(self.store)
        self.watch.poll()
        self.q = start_ingest_snapshots(spark, self.in_dir, self.store,
                                        os.path.join(d, "ckpt"), stat_cols=["Timestamp"])
        self.files = 0
        self.windows = 0
        self.window_base = None  # last version before the first window
        # warm-up: one file through the stream, one untimed round of the mix
        base = self.watch.last
        self._publish(500, 0.0, time.time())
        deadline = time.time() + 120
        while self.watch.poll() <= base:
            if time.time() > deadline or not self.q.isActive:
                raise RuntimeError(f"warm-up file never became visible: {self.q.exception()}")
            time.sleep(0.01)
        for name in self.MIX:
            self._query(name, False)

    def _publish(self, n: int, due, origin: float) -> None:
        dev, lines = self.gen.batch(n, due, origin)
        write_file(self.in_dir, f"{self.files:06d}", dev, lines, self.staging)
        self.files += 1

    # -- the tail mix ---------------------------------------------------

    def _snap(self, **kw):
        with self.ctx.tracer.span("snapshot.read", group="client"):
            return snapshots.read_snapshot(self.ctx.spark, self.store, **kw)

    def _build(self, name: str, since: datetime | None = None):
        from syslog_handler_with_clickhouse_spark.streaming.analytics import errors_per_device_minute

        p = self.params
        if name == "errors_per_device":
            return self._snap().filter("Severity <= 3").groupBy("Device").count()
        if name == "errors_per_device_minute":
            return errors_per_device_minute(self._snap())
        if name == "category":
            return self._snap().filter(F.array_contains("Categories", p["token"])).groupBy("Severity").count()
        if name == "substring":
            return self._snap().filter(F.col("Message").contains(p["word"])).agg(F.count(F.lit(1)))
        if name == "last_60s":
            now = datetime.now(timezone.utc)
            lo = since or datetime.fromtimestamp(now.timestamp() - 60, timezone.utc)
            return (self._snap(prune=("Timestamp", lo, now)).filter(F.col("Timestamp") >= F.lit(lo))
                    .groupBy("Severity").count())
        if name == "device_latest":
            return (self._snap().filter(F.col("Device") == p["device"])
                    .orderBy(F.col("Timestamp").desc()).limit(100))
        raise KeyError(name)

    def _query(self, name: str, traced: bool, since=None):
        return _run_query(self.ctx, name, lambda: self._build(name, since), lambda df: df.collect(), traced)

    # -- the window -----------------------------------------------------

    def window(self, seconds: float) -> Window:
        ctx, tr = self.ctx, self.ctx.tracer
        traced = tr.enabled
        now = time.time()
        t0 = math.ceil((now + 0.5) / TRIGGER_SECONDS) * TRIGGER_SECONDS
        t1 = t0 + seconds
        sched = []  # (offset from t0, lines, burst?)
        per = int(self.RATE * self.FILE_EVERY)
        k = 0
        while self.FILE_EVERY * (k + 0.5) <= seconds:
            sched.append((self.FILE_EVERY * (k + 0.5), per, False))
            k += 1
        b = self.BURST_AT
        while b <= seconds:
            sched.append((b, self.BURST, True))
            b += self.BURST_EVERY
        sched.sort()
        first_seq = len(self.gen.lines)
        if self.window_base is None:
            self.window_base = self.watch.poll()
        errors: list[BaseException] = []
        late = [0.0]

        def generator():
            try:
                for off, n, burst in sched:
                    time.sleep(max(0.0, t0 + off - time.time()))
                    # a file's lines fall due evenly over the interval it closes
                    due = off if burst else [off - self.FILE_EVERY * (1 - (i + 1) / n) for i in range(n)]
                    with tr.span("gen.publish", new_trace=True, group="generator"):
                        self._publish(n, due, t0)
                    late[0] = max(late[0], time.time() - (t0 + off))
            except BaseException as e:  # reported by the main thread
                errors.append(e)

        passes: list[float] = []
        per_query: dict = {name: [] for name in self.MIX}

        def client():
            rng = random.Random(ctx.seed * 1_000_003 + self.windows)
            if traced:
                ctx.spark.sparkContext.setJobGroup("client", "perfbench tail client")
            time.sleep(max(0.0, t0 - time.time()))
            while time.time() < t1:
                tp = time.time()
                with tr.span("mix", new_trace=True, group="client"):
                    for name in rng.sample(self.MIX, len(self.MIX)):
                        ts = time.time()
                        ctx.attempted += 1
                        try:
                            self._query(name, traced)
                        except Exception:
                            traceback.print_exc()
                            ctx.fail(f"tail query {name}")
                        per_query[name].append(time.time() - ts)
                passes.append(time.time() - tp)

        threads = [threading.Thread(target=generator, name="generator"),
                   threading.Thread(target=client, name="client")]
        for t in threads:
            t.start()
        while any(t.is_alive() for t in threads):
            self.watch.poll()
            time.sleep(0.01)
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        self.windows += 1
        qlat = [x for xs in per_query.values() for x in xs]
        q, tail = tail_pct(qlat)
        return Window(t0, time.time(), passes, per_query, [], {
            "t1": t1, "seqs": range(first_seq, len(self.gen.lines)), "gen.late_max_s": late[0],
            "tail_query_samples": len(qlat), "tail_query_p50_s": pct(qlat, 0.5),
            "tail_query_tail_q": q, "tail_query_tail_s": tail,
        })

    def drain(self) -> None:
        """Drain (processAllAvailable) while polling, then stop the stream."""
        errors: list[BaseException] = []

        def drainer():
            try:
                self.q.processAllAvailable()
            except BaseException as e:  # reported by the main thread
                errors.append(e)

        t = threading.Thread(target=drainer, name="drainer")
        t.start()
        while t.is_alive():
            self.watch.poll()
            time.sleep(0.01)
        t.join()
        self.q.stop()
        self.watch.poll()
        if errors:
            raise errors[0]

    def freshness(self, win: Window, fv: dict[str, int], seq_file: dict[int, str]) -> tuple[list[float], int, float]:
        """Per-line freshness of the window's lines; lines still unseen at
        window end, and the oldest such line's age then."""
        lat, backlog, oldest = [], 0, 0.0
        t1 = win.extra["t1"]
        for s in win.extra["seqs"]:
            f = seq_file.get(s)
            if f is None:
                continue  # missing line: counted by the line check
            seen = self.watch.seen[fv[f]]
            due = self.gen.due[s]
            lat.append(seen - due)
            if due <= t1 < seen:
                backlog += 1
                oldest = max(oldest, t1 - due)
        return lat, backlog, oldest

    def finish(self, windows: list[Window]) -> None:
        """Drain, then fill each window's freshness samples and check the
        end state: every line once and exact, and the mix against the
        reference (untimed)."""
        ctx = self.ctx
        t = [time.time()]
        self.drain()
        t.append(time.time())
        fv = _file_versions(ctx.spark, self.store, self.watch.last, self.window_base)
        t.append(time.time())
        rows = _store_rows(ctx.spark, self.store)
        t.append(time.time())
        seq_file = {}
        for r in rows:
            m = SEQ_RE.search(r[4])
            if m:
                seq_file[int(m.group(1))] = r[0]
        for w in windows:
            w.latency, backlog, oldest = self.freshness(w, fv, seq_file)
            w.extra.update({"tail.backlog_lines_end": backlog, "tail.backlog_oldest_s": oldest})
        _check_lines(ctx, self.gen, rows, range(len(self.gen.lines)))
        t.append(time.time())
        self._check_mix()
        t.append(time.time())
        ctx.notes["verify_s"] = dict(zip(("drain", "versions", "rows", "lines", "mix"),
                                         (b - a for a, b in zip(t, t[1:]))))

    def invalid(self, win: Window) -> list[str]:
        """Why the reported window cannot stand: the generator fell behind
        its schedule, or the ingest fell behind the offered load."""
        out = []
        late, oldest = win.extra["gen.late_max_s"], win.extra["tail.backlog_oldest_s"]
        if late > self.LATE_MAX_S:
            out.append(f"generator ran {late:.3f} s late (bound {self.LATE_MAX_S} s)")
        if oldest > self.BACKLOG_MAX_S:
            out.append(f"a line {oldest:.2f} s old was still unseen at window end (bound {self.BACKLOG_MAX_S} s)")
        return out

    def _check_mix(self) -> None:
        ctx, gen, p = self.ctx, self.gen, self.params
        parsed = [(gen.devices[s], *reference_parse(gen.lines[s])) for s in range(len(gen.lines))]
        errs = Counter(dev for dev, sev, _, _ in parsed if sev <= 3)
        cat = Counter(sev for _, sev, cats, _ in parsed if p["token"] in cats)
        by_sev = Counter(sev for _, sev, _, _ in parsed)
        n_word = sum(p["word"] in msg for _, _, _, msg in parsed)
        n_dev = sum(dev == p["device"] for dev, *_ in parsed)
        # the whole run is well inside 60 s of set-up, so "since set-up"
        # selects every row, as the reference does
        since = datetime.fromtimestamp(self.t_setup - 1, timezone.utc)
        got = {name: self._query(name, False, since) for name in self.MIX}
        per_min: Counter = Counter()
        for r in got["errors_per_device_minute"]:
            per_min[r["Device"]] += r["n_errors"]
        latest = got["device_latest"]
        ts = [r["Timestamp"] for r in latest]
        checks = {
            "errors_per_device": dict(got["errors_per_device"]) == errs,
            "errors_per_device_minute": per_min == errs,
            "category": dict(got["category"]) == cat,
            "substring": got["substring"][0][0] == n_word,
            "last_60s": dict(got["last_60s"]) == by_sev,
            "device_latest": len(latest) == min(100, n_dev)
            and all(r["Device"] == p["device"] for r in latest) and ts == sorted(ts, reverse=True),
        }
        ctx.attempted += len(checks)
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            ctx.fail(f"tail mix vs reference: {bad}", len(bad))
        ctx.notes["mix_check"] = checks

    def layer_report(self, t0: float, t1: float) -> dict:
        """Snapshot-store figures of the traced window [t0, t1]."""
        spark, spans = self.ctx.spark, self.ctx.tracer.spans
        writes = [s for s in spans if s["name"] == "snapshot.write" and t0 <= s["start"] <= t1]
        reads = [s for s in spans if s["name"] == "snapshot.read" and t0 <= s["start"] <= t1]
        files = snapshots.read_snapshot(spark, self.store).inputFiles()
        now = datetime.now(timezone.utc)
        lo = datetime.fromtimestamp(now.timestamp() - 60, timezone.utc)
        pruned = snapshots.read_snapshot(spark, self.store, prune=("Timestamp", lo, now)).inputFiles()
        size = manifests = 0
        for base, _, names in os.walk(self.store):
            for n in names:
                b = os.path.getsize(os.path.join(base, n))
                size += b
                manifests += b if "_manifests" in base else 0
        ws = [s["end"] - s["start"] for s in writes] or [0.0]
        return {
            "snapshot.commits": len(writes),
            "snapshot.write_s_p50": pct(ws, 0.5),
            "snapshot.write_s_p99": pct(ws, 0.99),
            "snapshot.jobs_per_commit": sum(s["jobs"] for s in writes) / max(len(writes), 1),
            "snapshot.files_per_commit": len(files) / max(self.watch.last, 1),
            "snapshot.read_resolve_s_p50": pct([s["end"] - s["start"] for s in reads] or [0.0], 0.5),
            "store.data_files": len(files),
            "store.manifest_bytes": manifests,
            "store.bytes_per_input_byte": size / sum(len(x) + 1 for x in self.gen.lines),
            "read.files_scanned_frac": len(pruned) / len(files),
        }

    def close(self) -> None:
        if self.q.isActive:
            self.q.stop()


# ----------------------------------------------------------------------
# headline
# ----------------------------------------------------------------------


def _canon(v):
    import numpy as np

    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return sorted((k, _canon(x)) for k, x in v.items())
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def frame_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a pandas frame (columns
    sorted by name, rows sorted by their repr)."""
    import hashlib

    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_canon(v) for v in t)) for t in pdf[cols].itertuples(index=False))
    return len(rows), hashlib.sha256(("\n".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()


class Headline:
    """``bench.HEADLINE`` run closed-loop by one client into a noop sink,
    over the shipped sf0.01 fixture tables.  The set-up pass is untimed and
    checks every query against its DuckDB oracle.  One pass = the 24
    queries in a seeded order; one latency sample = one query."""

    def __init__(self, ctx: Ctx) -> None:
        import bench
        import duckdb

        from syslog_handler_with_clickhouse_spark.queries import ORACLE, QUERIES

        self.ctx = ctx
        self.queries = QUERIES
        self.names = list(bench.HEADLINE)[: 3 if ctx.tiny else None]
        self.rng = random.Random(ctx.seed)
        con = duckdb.connect()
        for t in sorted(os.listdir(FIXTURES)):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(FIXTURES, t)}'")
        mismatches = {}
        t_spark = t_oracle = 0.0
        for name in self.rng.sample(self.names, len(self.names)):
            ctx.attempted += 1
            try:
                t = time.time()
                got = frame_digest(QUERIES[name](ctx.spark, FIXTURES).toPandas())
                t_spark += time.time() - t
                t = time.time()
                want = frame_digest(con.execute(ORACLE[name]).df())
                t_oracle += time.time() - t
            except Exception:
                traceback.print_exc()
                got, want = "error", None
            if got != want:
                mismatches[name] = {"spark": got, "oracle": want}
                ctx.fail(f"{name} vs DuckDB oracle: {mismatches[name]}")
        con.close()
        ctx.notes["oracle_mismatches"] = mismatches
        ctx.notes["check_pass_s"] = {"spark": t_spark, "oracle": t_oracle}

    def window(self, seconds: float) -> Window:
        ctx, tr = self.ctx, self.ctx.tracer
        traced = tr.enabled
        t0 = time.time()
        passes, per_query = [], {name: [] for name in self.names}
        while not passes or time.time() - t0 < seconds:
            tp = time.time()
            with tr.span("pass", new_trace=True, group="client"):
                for name in self.rng.sample(self.names, len(self.names)):
                    ts = time.time()
                    ctx.attempted += 1
                    try:
                        _run_query(ctx, name, lambda: self.queries[name](ctx.spark, FIXTURES), _noop, traced)
                    except Exception:
                        traceback.print_exc()
                        ctx.fail(f"headline query {name}")
                    per_query[name].append(time.time() - ts)
            passes.append(time.time() - tp)
        # one latency sample per query (its median over the passes), so the
        # tail percentile does not depend on how many passes fit the window
        lat = [statistics.median(xs) for xs in per_query.values()]
        return Window(t0, time.time(), passes, per_query, lat)

    def finish(self, windows: list[Window]) -> None:
        """Nothing to drain; every result was checked in set-up."""

    def invalid(self, win: Window) -> list[str]:
        return []

    def layer_report(self, t0: float, t1: float) -> dict:
        loads = [s for s in self.ctx.tracer.spans if s["name"] == "testdata.load" and t0 <= s["start"] <= t1]
        return {"testdata.loads": len(loads), "testdata.load_s": sum(s["end"] - s["start"] for s in loads)}

    def close(self) -> None:
        pass


WORKLOADS = {"live_tail": LiveTail, "headline": Headline}
