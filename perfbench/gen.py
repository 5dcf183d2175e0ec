"""Seeded input generation for the benchmark.

Everything the engine receives is made here from ``--seed``: Kafka-wire
envelope batches (JSON lines, double-encoded inner document) and the
search request mix. The generator is pure Python (no Spark), so the same
seed gives byte-identical files and a self-test can check that cheaply.

Each event is also kept as a plain tuple (``Event``) so the DuckDB oracle
can rebuild the expected latest state from the inputs alone.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from functools import cached_property
from typing import NamedTuple

BUCKETS = ("bench-0", "bench-1", "bench-2", "bench-3")
COLORS = ("red", "green", "blue", "cyan", "amber", "black", "white", "grey")
OWNERS = 1000
MAX_SIZE = 1_000_000


class Event(NamedTuple):
    bucket: str
    key: str
    op: int  # record number; the wire opIndex is f"{op:012d}_0"
    type: str  # "put" or "delete"
    size: int
    owner: str
    color: str


@dataclass
class Batch:
    """One inbox file: the events it carries plus how many malformed
    envelopes (missing ``type``) were mixed in, which ingest must drop."""

    events: list[Event]
    malformed: int = 0

    def lines(self) -> list[str]:
        out = [envelope(e) for e in self.events]
        for i in range(self.malformed):
            # no "type": parse_events discards it and counts a null_type drop
            out.insert(
                (i * 7919) % (len(out) + 1),
                json.dumps({"opIndex": f"{0:012d}_9", "bucket": BUCKETS[0],
                            "key": f"malformed-{i}", "value": "{}"}),
            )
        return out

    @cached_property
    def text(self) -> str:
        return "\n".join(self.lines()) + "\n"


def md5_of(e: Event) -> str:
    return hashlib.md5(f"{e.bucket}/{e.key}@{e.op}".encode()).hexdigest()


#: the inner metadata document, as ``json.dumps`` would render it. Every
#: field is plain ASCII with no quotes, so a template renders the same bytes
#: about three times faster, which matters at hundreds of thousands of events.
_PUT_DOC = (
    '{{"bucket": "{e.bucket}", "key": "{e.key}", "owner-id": "owner-{e.owner}", '
    '"owner-display-name": "Owner {e.owner}", "content-length": {e.size}, '
    '"content-md5": "{md5}", "last-modified": "2026-01-01T00:00:00.000Z", '
    '"x-amz-storage-class": "STANDARD", "md-model-version": 3, '
    '"x-amz-meta-owner": "{e.owner}", "x-amz-meta-color": "{e.color}"}}'
)
_DELETE_DOC = '{{"bucket": "{e.bucket}", "key": "{e.key}"}}'


def envelope(e: Event) -> str:
    if e.type == "delete":
        doc = _DELETE_DOC.format(e=e)
    else:
        doc = _PUT_DOC.format(e=e, md5=md5_of(e))
    # the inner document is double-encoded, as on the Kafka wire
    return (
        f'{{"opIndex": "{e.op:012d}_0", "type": "{e.type}", '
        f'"bucket": "{e.bucket}", "key": "{e.key}", "value": {json.dumps(doc)}}}'
    )


@dataclass
class Corpus:
    """Generator state: the live key set per bucket and the op counter,
    so later batches can overwrite or delete keys earlier ones wrote."""

    rng: random.Random
    op: int = 0
    live: dict[str, list[str]] = field(
        default_factory=lambda: {b: [] for b in BUCKETS}
    )
    _serial: int = 0

    def _event(self, bucket: str, key: str, type_: str) -> Event:
        self.op += 1
        r = self.rng
        return Event(
            bucket, key, self.op, type_, r.randrange(MAX_SIZE),
            f"u{r.randrange(OWNERS):03d}", r.choice(COLORS),
        )

    def new_key(self) -> str:
        self._serial += 1
        return f"{self.rng.getrandbits(24):06x}/obj-{self._serial:07d}"

    def batch(
        self,
        n: int,
        *,
        overwrite: float = 0.0,
        delete: float = 0.0,
        malformed: int = 0,
    ) -> Batch:
        """``n`` events: a share ``overwrite`` re-puts live keys, a share
        ``delete`` tombstones live keys, the rest put new keys. The last
        event is always a put, so a freshness probe of the batch has a
        latest value to look for."""
        r = self.rng
        events = []
        for _ in range(n):
            bucket = BUCKETS[r.randrange(len(BUCKETS))]
            live = self.live[bucket]
            roll = r.random()
            if live and roll < delete:
                i = r.randrange(len(live))
                live[i], live[-1] = live[-1], live[i]
                events.append(self._event(bucket, live.pop(), "delete"))
            elif live and roll < delete + overwrite:
                events.append(
                    self._event(bucket, live[r.randrange(len(live))], "put")
                )
            else:
                key = self.new_key()
                live.append(key)
                events.append(self._event(bucket, key, "put"))
        if events and events[-1].type != "put":
            key = self.new_key()
            self.live[events[-1].bucket].append(key)
            events.append(self._event(events[-1].bucket, key, "put"))
        return Batch(events, malformed)


# -- search request mix ------------------------------------------------------


@dataclass(frozen=True)
class Search:
    """One search session: a predicate on one bucket, paged by keyset.
    ``pages`` > 1 follows ``NextStartAfter`` (a chained deep listing)."""

    kind: str  # "eq", "range", "deep", or "key" (a freshness probe)
    bucket: str
    param: tuple
    limit: int
    start_after: str | None = None
    pages: int = 1

    def spark_where(self) -> str:
        if self.kind == "key":
            return f"key = '{self.param[0]}'"
        if self.kind == "eq":
            return f"userMd.`x-amz-meta-owner` = '{self.param[0]}'"
        if self.kind == "range":
            lo, hi = self.param
            return f"`content-length` BETWEEN {lo} AND {hi}"
        return f"userMd.`x-amz-meta-color` = '{self.param[0]}'"

    def duckdb_where(self) -> str:
        """The same predicate over the oracle's flat columns."""
        if self.kind == "key":
            return f"key = '{self.param[0]}'"
        if self.kind == "eq":
            return f"owner = '{self.param[0]}'"
        if self.kind == "range":
            lo, hi = self.param
            return f"size BETWEEN {lo} AND {hi}"
        return f"color = '{self.param[0]}'"


#: session kinds in a fixed cycle -- 40% selective equality, 30%
#: content-length range, 30% chained deep keyset listing -- so every run,
#: however short, sends the same mix; the seed picks the parameters
KIND_CYCLE = ("eq", "range", "deep", "eq", "range", "deep", "eq", "range",
              "deep", "eq")


def search_mix(rng: random.Random, n: int, *, deep_pages: int = 3) -> list[Search]:
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        bucket = BUCKETS[rng.randrange(len(BUCKETS))]
        if kind == "eq":
            out.append(Search("eq", bucket, (f"u{rng.randrange(OWNERS):03d}",), 100))
        elif kind == "range":
            lo = rng.randrange(MAX_SIZE - 20_000)
            out.append(Search("range", bucket, (lo, lo + 10_000), 1000))
        else:
            # start deep inside the key space: a random 6-hex-digit prefix
            start = f"{rng.getrandbits(24):06x}"
            out.append(
                Search("deep", bucket, (rng.choice(COLORS),), 200, start,
                       deep_pages)
            )
    return out


def digest(texts: list[str]) -> str:
    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode())
        h.update(b"\x00")
    return h.hexdigest()
