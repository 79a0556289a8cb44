"""Hermetic stand-ins for the external services the pipelines call.

Each fake sleeps a fixed simulated latency per call and answers from a pure
function of its input, so the generator can compute every expected output
in plain Python. A seeded set of inputs fails once (the caller's retry
succeeds) or always (the caller falls back to its sentinel).

The objects below are shipped to Spark's Python workers by pickle, so they
hold plain values only. Call and in-flight counts cross the process
boundary through a small counter file (see ``Counters``); without a counter
path the fakes count nothing, which is how the timed runs use them.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import struct
import threading
import time
from dataclasses import dataclass, field

# letters used by generated association names, and a disjoint set used by
# slugs that must not resemble any name (normalized Levenshtein 0)
NAME_ALPHABET = "abcdefghijlmnoprstuv"
FOREIGN_ALPHABET = "kqwxyz"


def unit(seed: int, tag: str, key: str) -> float:
    """Deterministic uniform draw in [0, 1) for (seed, tag, key)."""
    h = hashlib.blake2b(f"{seed}|{tag}|{key}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") / 2**64


# --------------------------------------------------------------- responses


def search_hits(seed: int, term: str) -> list[dict]:
    """Three hits per term; rank 1 is the term's Facebook page, whose last
    path segment normalizes back to the de-spaced term."""
    n = int(unit(seed, "page", term) * 900) + 100
    dashed = term.replace(" ", "-")
    base = {
        "snippet": f"about {term}", "queryTime": "0.21", "totalResults": 3,
        "count": 3,
    }
    links = [
        ("facebook.com", f"https://facebook.com/{dashed}-{n}/"),
        ("annuaire.example", f"https://annuaire.example/assos/{dashed}"),
        ("news.example", f"https://news.example/{n}/{dashed}.html"),
    ]
    return [
        {**base, "rank": float(i + 1), "title": f"{term} {i + 1}",
         "displayLink": d, "link": link, "cacheId": f"c{n}{i}"}
        for i, (d, link) in enumerate(links)
    ]


def page_link(seed: int, term: str) -> str:
    return search_hits(seed, term)[0]["link"]


def fbid_for(link: str) -> str:
    """Numeric page id that encodes the page's path segment (so the
    redirect fake can recover the term without shared state)."""
    segment = link.rstrip("/").rsplit("/", 1)[-1]
    return str(int.from_bytes(segment.encode(), "big"))


def term_of_fbid(fbid: str) -> str:
    n = int(fbid)
    segment = n.to_bytes((n.bit_length() + 7) // 8, "big").decode()
    return segment.rsplit("-", 1)[0].replace("-", " ")


def slug_kind(seed: int, term: str) -> str:
    """Which page the redirect lands on: the exact name ('exact', band
    fb_account), a one-letter typo ('typo', potential_fb_account) or an
    unrelated page ('foreign', no_fb_account)."""
    u = unit(seed, "kind", term)
    return "exact" if u < 0.45 else "typo" if u < 0.75 else "foreign"


def planted_slug(seed: int, term: str) -> str:
    """The normalized slug the redirect's URL reduces to."""
    flat = term.replace(" ", "")
    kind = slug_kind(seed, term)
    if kind == "exact":
        return flat
    if kind == "typo":
        i = int(unit(seed, "typo-at", term) * len(flat))
        swap = NAME_ALPHABET[(NAME_ALPHABET.index(flat[i]) + 7) % len(NAME_ALPHABET)]
        return flat[:i] + swap + flat[i + 1 :]
    k = 10 + int(unit(seed, "foreign-len", term) * 5)
    return "".join(
        FOREIGN_ALPHABET[int(unit(seed, f"foreign{j}", term) * len(FOREIGN_ALPHABET))]
        for j in range(k)
    )


def redirect_url(seed: int, fbid: str) -> str:
    if fbid == "0":  # the caller's own sentinel flows in; answer, never fail
        return "https://facebook.com/0"
    slug = planted_slug(seed, term_of_fbid(fbid))
    return f"https://facebook.com/pages/{slug[:4]}-{slug[4:]}-{len(slug)}/"


def geocode(seed: int, address: str) -> str:
    lat = 48.815 + unit(seed, "lat", address) * 0.09
    lon = 2.25 + unit(seed, "lon", address) * 0.16
    return f"{lat:.6f},{lon:.6f}"


# ---------------------------------------------------------------- counters


class Counters:
    """Service counters in one small file, updated under ``flock`` so the
    driver and every Python worker process add to the same totals."""

    FIELDS = ("calls", "inflight", "inflight_max", "wait_ns", "inputs", "sentinels")
    _FMT = "<6q"

    def __init__(self, path: str):
        self.path = path

    def reset(self) -> None:
        with open(self.path, "wb") as f:
            f.write(struct.pack(self._FMT, *([0] * len(self.FIELDS))))

    def read(self) -> dict[str, int]:
        with open(self.path, "rb") as f:
            return dict(zip(self.FIELDS, struct.unpack(self._FMT, f.read())))

    def _update(self, fn) -> None:
        fd = os.open(self.path, os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            size = struct.calcsize(self._FMT)
            vals = dict(zip(self.FIELDS, struct.unpack(self._FMT, os.pread(fd, size, 0))))
            fn(vals)
            os.pwrite(fd, struct.pack(self._FMT, *(vals[k] for k in self.FIELDS)), 0)
        finally:
            os.close(fd)

    def enter(self) -> None:
        def f(v):
            v["calls"] += 1
            v["inflight"] += 1
            v["inflight_max"] = max(v["inflight_max"], v["inflight"])

        self._update(f)

    def leave(self, wait_ns: int, first: bool, sentinel: bool) -> None:
        def f(v):
            v["inflight"] -= 1
            v["wait_ns"] += wait_ns
            v["inputs"] += first
            v["sentinels"] += sentinel

        self._update(f)


# ------------------------------------------------------------------ services


class ServiceDown(RuntimeError):
    pass


@dataclass(frozen=True)
class Service:
    """One fake service. Calling it builds a client: the ``http_enrich``
    transport-factory protocol (one client per Spark task)."""

    kind: str  # "fbid" | "redirect" | "geocode"
    seed: int
    latency_s: float
    fail_always: frozenset = field(default_factory=frozenset)
    fail_once: frozenset = field(default_factory=frozenset)
    counters: str | None = None

    def answer(self, arg: str) -> str:
        if self.kind == "fbid":
            return fbid_for(arg)
        if self.kind == "redirect":
            return redirect_url(self.seed, arg)
        return geocode(self.seed, arg)

    def __call__(self) -> "_Client":
        return _Client(self)


class _Client:
    def __init__(self, svc: Service):
        self.svc = svc
        self.seen: set[str] = set()
        self.lock = threading.Lock()
        self.counters = Counters(svc.counters) if svc.counters else None

    def __call__(self, arg: str) -> str:
        svc = self.svc
        with self.lock:
            first = arg not in self.seen
            self.seen.add(arg)
        fails = arg in svc.fail_always or (first and arg in svc.fail_once)
        if self.counters is not None:
            self.counters.enter()
        t0 = time.perf_counter_ns()
        time.sleep(svc.latency_s)
        out = None if fails else svc.answer(arg)
        if self.counters is not None:
            self.counters.leave(time.perf_counter_ns() - t0, first,
                                first and arg in svc.fail_always)
        if fails:
            raise ServiceDown(f"{svc.kind} unavailable for {arg!r}")
        return out


@dataclass(frozen=True)
class SearchService:
    """Custom-search fake: ``search(term) -> hits`` (never fails; the
    pipeline's search fan-out has no retry path)."""

    seed: int
    latency_s: float
    counters: str | None = None

    def __call__(self, term: str) -> list[dict]:
        c = Counters(self.counters) if self.counters else None
        if c is not None:
            c.enter()
        t0 = time.perf_counter_ns()
        time.sleep(self.latency_s)
        hits = search_hits(self.seed, term)
        if c is not None:
            c.leave(time.perf_counter_ns() - t0, True, False)
        return hits
