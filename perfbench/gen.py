"""Seeded syslog line generator and the pure-Python parse reference.

Every line carries its sequence number and when it was due to be sent
(milliseconds after its schedule's origin) as the tokens ``seq<N> due<ms>``,
so a stored row can be traced back to the line that produced it.  The file
source recovers the device (peer address) from the file name, so each
file holds the lines of ONE device; devices are drawn per file from a
skewed (Zipf-like) distribution over ``N_DEVICES`` addresses.

Line kinds, in fixed shares:

- ``MALFORMED_NOSPACE``: no space at all (parse rule P2);
- ``MALFORMED_ONETOKEN``: a header with fewer than 2 comma tokens (P2);
- ``UNKNOWN_SEVERITY``: a second header token that is no severity keyword
  (P5: severity 6 and the token appended to Categories);
- the rest: a known severity keyword, 0-2 extra categories (P3/P4).
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

from syslog_handler_with_clickhouse_spark.schema import (
    DEFAULT_SEVERITY,
    SEVERITY_KEYWORDS,
)

N_DEVICES = 50
MALFORMED_NOSPACE = 0.03
MALFORMED_ONETOKEN = 0.03
UNKNOWN_SEVERITY = 0.05

TOPICS = ("firewall", "system", "wireless", "dhcp", "ppp", "vpn", "interface", "dns")
EXTRA_CATS = ("forward", "input", "wlan1", "ether2", "bridge", "l2tp")
UNKNOWN_TOKENS = ("weird", "odd", "x9", "custom")
WORDS = ("dropped", "packet", "from", "link", "up", "down", "lease", "user",
         "login", "failed", "tunnel", "signal", "weak", "rebooted", "changed")
SEQ_RE = re.compile(r"seq(\d+)")

if set(UNKNOWN_TOKENS) & set(SEVERITY_KEYWORDS):
    raise ValueError("an 'unknown' severity token is a severity keyword")


def reference_parse(raw: str) -> tuple[int, list[str], str]:
    """Parse rules P1-P5 in plain Python: (Severity, Categories, Message)."""
    parts = raw.split(" ", 1)  # P1
    topics = parts[0].split(",")  # P3
    if len(parts) < 2 or len(topics) < 2:  # P2
        return DEFAULT_SEVERITY, ["unknown"], raw
    cats = [topics[0]] + topics[2:]  # P4
    sev = SEVERITY_KEYWORDS.get(topics[1])  # P5
    if sev is None:
        return DEFAULT_SEVERITY, cats + [topics[1]], parts[1]
    return sev, cats, parts[1]


def device_name(i: int) -> str:
    return f"10.0.{i // 200}.{i % 200 + 1}:514"


@dataclass
class Generator:
    """One seeded, single-threaded stream of syslog lines.

    ``lines[seq]`` is the raw line, ``devices[seq]`` its device and
    ``due[seq]`` the time (epoch seconds) it was due to be sent.
    """

    seed: int
    lines: list[str] = field(default_factory=list)
    devices: list[str] = field(default_factory=list)
    due: list[float] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        weights = [1.0 / (r + 1) ** 1.1 for r in range(N_DEVICES)]
        order = list(range(N_DEVICES))
        self.rng.shuffle(order)
        self._dev_names = [device_name(i) for i in order]
        self._dev_weights = weights

    def _line(self, seq: int, due: float) -> str:
        rng = self.rng
        words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))
        msg = f"seq{seq} due{round(due * 1000)} {words}"
        u = rng.random()
        if u < MALFORMED_NOSPACE:
            return msg.replace(" ", ":")
        if u < MALFORMED_NOSPACE + MALFORMED_ONETOKEN:
            return f"{rng.choice(TOPICS)} {msg}"
        if u < MALFORMED_NOSPACE + MALFORMED_ONETOKEN + UNKNOWN_SEVERITY:
            sev = rng.choice(UNKNOWN_TOKENS)
        else:
            sev = rng.choice(list(SEVERITY_KEYWORDS))
        extras = rng.sample(EXTRA_CATS, rng.randint(0, 2))
        return ",".join([rng.choice(TOPICS), sev, *extras]) + " " + msg

    def batch(self, n: int, due: float | list[float] = 0.0, origin: float = 0.0) -> tuple[str, list[str]]:
        """Next ``n`` lines, all from one skew-drawn device, due ``due``
        seconds (one offset, or one per line) after ``origin``.  Lines carry
        the offset, so the same seed gives the same lines on every run."""
        dev = self.rng.choices(self._dev_names, self._dev_weights)[0]
        start = len(self.lines)
        dues = due if isinstance(due, list) else [due] * n
        out = [self._line(start + i, d) for i, d in enumerate(dues)]
        self.lines.extend(out)
        self.devices.extend([dev] * n)
        self.due.extend(origin + d for d in dues)
        return dev, out


def write_file(directory: str, stamp: str, device: str, lines: list[str], staging: str) -> str:
    """Publish ``lines`` atomically as ``<directory>/<ip>_<port>.log.<stamp>``.

    The file is written under ``staging`` and renamed into place, so the
    file source never lists a half-written file.  The source recovers the
    device from the name part before ``.log``; the stamp after it keeps the
    names of one device's files distinct.
    """
    name = f"{device.replace(':', '_')}.log.{stamp}"
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final


def line_class(cats: list[str]) -> str:
    """malformed (P2), unknown_token (P5) or normal, from the reference Categories."""
    if cats == ["unknown"]:
        return "malformed"
    return "unknown_token" if cats[-1] in UNKNOWN_TOKENS else "normal"


@dataclass
class LineCheck:
    """Exact end-state check of a store against the generator's lines."""

    attempted: int = 0
    missing: int = 0
    duplicated: int = 0
    wrong: int = 0
    by_class: dict = field(default_factory=dict)  # class -> [lines, wrong]
    counts_match: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return self.missing + self.duplicated + self.wrong

    def as_dict(self) -> dict:
        return {"lines": self.attempted, "missing": self.missing, "duplicated": self.duplicated,
                "wrong": self.wrong, "by_class": self.by_class, "counts_match": self.counts_match}


def check_rows(gen: Generator, rows, seqs: range) -> LineCheck:
    """Compare stored rows (Device, Severity, Categories, Message) with the
    reference parse of every line whose seq is in ``seqs``: every seq must
    appear exactly once and every column must match.  Also compares the
    per-severity and per-device counts."""
    chk = LineCheck(attempted=len(seqs))
    expected = {s: reference_parse(gen.lines[s]) for s in seqs}
    for s, (_, cats, _) in expected.items():
        chk.by_class.setdefault(line_class(cats), [0, 0])[0] += 1
    seen: dict[int, int] = {}
    got_sev: Counter = Counter()
    got_dev: Counter = Counter()
    for device, sev, cats, msg in rows:
        got_sev[int(sev)] += 1
        got_dev[device] += 1
        m = SEQ_RE.search(msg)
        seq = int(m.group(1)) if m else -1
        if seq not in expected:
            chk.wrong += 1
            continue
        seen[seq] = seen.get(seq, 0) + 1
        if seen[seq] > 1:
            continue
        exp = expected[seq]
        if (device, int(sev), list(cats), msg) != (gen.devices[seq], *exp):
            chk.wrong += 1
            chk.by_class[line_class(exp[1])][1] += 1
    chk.duplicated = sum(c - 1 for c in seen.values())
    chk.missing = len(seqs) - len(seen)
    chk.counts_match = {
        "severity": got_sev == Counter(e[0] for e in expected.values()),
        "device": got_dev == Counter(gen.devices[s] for s in seqs),
    }
    return chk
