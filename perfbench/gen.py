"""Seeded inputs for the benchmark and the in-memory model it checks
results against.

Everything here is a pure function of (workload, seed): the load
generator (run.py) and the server entry (server.py) call the same
functions and therefore agree on every key, timestamp and value without
exchanging data. Records use the one-column ``u`` format, so a record's
text-protocol line is ``key<TAB>ts<TAB>u<TAB>value``.
"""

from __future__ import annotations

import bisect
import math
import random

FMT = "u"
T0 = 1_600_000_000 * 10**9  # first base timestamp (ns)
STEP = 10**9  # base timestamps are one second apart
T_PUT = T0 + 10**15  # fresh timestamps written by serve PUTs
T_BATCH = T0 + 2 * 10**15  # fresh timestamps written by bulk loads

# serve_read: 100 groups of 1-3 keys (one prefix GET reads one group),
# 200 keys with 20..2000 records each on a log-uniform grid. The shape
# (group sizes, records per key, which key is how hot) is the same for
# every seed, so runs with different seeds measure the same workload.
READ_GROUPS = 100
READ_MIN, READ_MAX = 20, 2000
# serve_lsm: 4000 keys x 20 records; keys come in blocks of 10 that
# share a 5-character prefix, and each connection owns every other block.
LSM_KEYS = 4000
LSM_BASE_RECORDS = 20
BLOCK = 10

# bulk phase: one sorted load of LOAD_LINES lines per cycle over at most
# LOAD_KEYS keys; a third of each key's lines overwrite a base (key, ts)
LOAD_LINES = 9600
LOAD_KEYS = 400


def rng_for(seed: int, *parts) -> random.Random:
    return random.Random(f"{seed}/" + "/".join(str(p) for p in parts))


def line(key: str, ts: int, value: int) -> str:
    return f"{key}\t{ts}\t{FMT}\t{value}"


def base_keys(workload: str, seed: int) -> list[tuple[str, int]]:
    """(key, record count) of the base database, key-sorted."""
    out = []
    if workload == "serve_read":
        keys = [f"r{g:04d}.{m}" for g in range(READ_GROUPS) for m in range(1 + g % 3)]
        lo, hi = math.log(READ_MIN), math.log(READ_MAX)
        sizes = [int(math.exp(lo + (hi - lo) * (i + 0.5) / len(keys)))
                 for i in range(len(keys))]
        random.Random(0).shuffle(sizes)  # fixed: the shape is seed-free
        out = list(zip(keys, sizes))
    elif workload == "serve_lsm":
        out = [(lsm_key(i), LSM_BASE_RECORDS) for i in range(LSM_KEYS)]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return sorted(out)


def lsm_key(i: int) -> str:
    return f"k{i:05d}"


def base_value(seed: int, key: str, j: int) -> int:
    # cheap deterministic hash; not Python's salted hash()
    h = (seed * 1_000_003 + j * 7919) & 0xFFFFFFFF
    for ch in key:
        h = (h * 31 + ord(ch)) & 0xFFFFFFFF
    return h


def base_lines(workload: str, seed: int):
    """The base database as (key, ts)-sorted text-protocol lines."""
    for key, n in base_keys(workload, seed):
        for j in range(n):
            yield line(key, T0 + j * STEP, base_value(seed, key, j))


def bulk_cycle(workload: str, seed: int, cycle: int):
    """One bulk cycle: a (key, ts)-sorted load, then one delete marker.

    The load rewrites a third of each chosen key's lines at base
    timestamps (last writer wins) and appends fresh ones; the marker
    deletes a narrow key range over the first three base timestamps."""
    base = base_keys(workload, seed)
    keys = [k for k, _ in base]
    n_base = dict(base)
    rng = rng_for(seed, workload, "bulk", cycle)
    chosen = sorted(rng.sample(keys, min(LOAD_KEYS, len(keys))))
    per_key = LOAD_LINES // len(chosen)
    fresh = T_BATCH + cycle * 10**9
    lines = []
    for key in chosen:
        over = rng.sample(range(n_base[key]), min(per_key // 3, n_base[key]))
        ts = [T0 + j * STEP for j in over]
        ts += [fresh + n for n in range(per_key - len(over))]
        for t in sorted(ts):
            lines.append(line(key, t, rng.getrandbits(32)))
    i = rng.randrange(len(keys) - 3)
    marker = {
        "first_key": keys[i],
        "last_key": keys[i + 3],
        "after_ns": T0,
        "before_ns": T0 + 3 * STEP,
        "wildcard": "%",
    }
    return lines, marker


class Zipf:
    """Seeded Zipf(s) choice over a list, hot items in random order."""

    def __init__(self, items: list, s: float, rng: random.Random):
        self.items = list(items)
        rng.shuffle(self.items)
        acc, self.cum = 0.0, []
        for r in range(1, len(self.items) + 1):
            acc += 1.0 / r**s
            self.cum.append(acc)

    def pick(self, rng: random.Random):
        x = rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]


class Model:
    """Last-writer-wins records with delete markers, in memory.

    Writes and deletes are applied in commit order, so the model state
    is exactly what a read after those commits must return."""

    def __init__(self):
        self.recs: dict[str, dict[int, int]] = {}

    def load_lines(self, lines) -> None:
        for ln in lines:
            key, ts, _fmt, v = ln.split("\t")
            self.recs.setdefault(key, {})[int(ts)] = int(v)

    def delete(self, m: dict) -> None:
        lo, hi = m["after_ns"], m["before_ns"]
        for key, recs in self.recs.items():
            if m["first_key"] <= key < m["last_key"]:
                for ts in [t for t in recs if lo <= t < hi]:
                    del recs[ts]

    def rows(self, key: str) -> list[tuple[int, int]]:
        return sorted(self.recs.get(key, {}).items())

    def get_body(self, keys: list[str]) -> bytes:
        """The exact GET response body for these keys, in key order."""
        out = []
        for key in sorted(keys):
            out.extend(f"{key}\t{ts}\t{v}\n" for ts, v in self.rows(key))
        return "".join(out).encode()

    def live_count(self) -> int:
        return sum(len(r) for r in self.recs.values())

    def live_text_bytes(self) -> int:
        """Bytes of the live records as text-protocol ingest lines."""
        return sum(
            len(line(k, ts, v)) + 1
            for k, recs in self.recs.items()
            for ts, v in recs.items()
        )

    def fold(self) -> dict[str, tuple[int, float, float, float]]:
        """Per-key (n, sum, min, max), as ``Database.agg_series`` gives."""
        out = {}
        for k, recs in self.recs.items():
            if recs:
                vs = recs.values()
                out[k] = (len(recs), float(sum(vs)), float(min(vs)), float(max(vs)))
        return out
