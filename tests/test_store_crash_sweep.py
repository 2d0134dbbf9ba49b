"""Enumerated crash sweep over every persistent-store mutation.

Every persistent store, the Database included, commits through
:mod:`sonnerie_spark.fsutil` (the Database calls its fsyncs through the
names ``db.py`` imports), so the step functions — each rename, replace,
remove, fsync, fsync_tree, fsync_dir and rmtree — are the complete set
of points where a crash can land between two durable states. For each
operation a dry run on a copy of the pre-op store counts those steps
(that copy is the clean twin). Then, for every k, the operation runs on
a fresh copy with a crash injected at its k-th step: a fresh handle
must see the old state or the new one, and retrying the operation must
reach the twin's final state. Each recovery action must fire somewhere
in the sweep.

Database operations crash as a dead process: once the k-th step has
raised, every later step and unlink under the root raises too, so no
cleanup handler runs. The other stores keep their handlers, since a
killed JSON writer's tmp file is never reaped by their recovery.

``os.rename`` calls in ``db.py`` that no operation here crashes, with
the reason, are listed in :data:`DB_RENAMES_NOT_SWEPT`.
"""

from __future__ import annotations

import ast
import contextlib
import hashlib
import inspect
import json
import os
import re
import shutil
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
import pytest

from sonnerie_spark import db as sdb, fsutil
from sonnerie_spark.db import Database, Transaction
from sonnerie_spark.operators import dedup, similarity
from sonnerie_spark.operators.sketch import BloomStore, DdStore, HllStore
from sonnerie_spark.streaming.rollup import ContinuousRollup

HOUR = 3600 * 10**9
T0 = 1577836800 * 10**9  # 2020-01-01

_copytree = shutil.copytree  # captured before any step is patched
_STEPS = [
    (os, "rename"),
    (os, "replace"),
    (shutil, "rmtree"),
    (fsutil, "fsync_file"),
    (fsutil, "fsync_dir"),
    (fsutil, "fsync_tree"),
    (fsutil, "fsync_new_files"),
    (sdb, "fsync_tree"),
    (sdb, "fsync_dir"),
    (os, "remove"),
    (os, "unlink"),  # only on failure paths: the dead process's cleanup
]
DB_ACTIONS = {"roll_back", "roll_forward", "reap_plan_debris"}
ACTIONS = {"restore", "reap_debris", "promote", "reap_torn"} | DB_ACTIONS
# os.rename calls in db.py by enclosing function: swept, or why not
DB_RENAMES_NOT_SWEPT = {
    "_bucketed_table": "publishes a view cache of hard links, rebuilt "
    "by the next read if missing; no database state",
}
DB_RENAMES_SWEPT = {"_atomic_rename", "_swap", "_recover_compact_plan"}
LSH_COLS = ["id", "band", "bucket"]


class Crash(Exception):
    """The injected failure. Neither an OSError nor a ValueError, so no
    store can mistake it for a transient or a corruption signal."""


class Steps:
    """Wraps every step function. Only outermost calls on paths under
    ``root`` count (fsync_tree's own fsyncs are one step). While armed,
    steps are numbered and the ``crash_at``-th raises :class:`Crash`
    instead of running; while watching, they are logged."""

    def __init__(self, monkeypatch, dead=False):
        self.root = None
        self.armed = False
        self.dead = dead  # after the crash, every step raises too
        self.crash_at = None
        self.count = 0
        self.log = None
        self.depth = 0
        self.scoped = False  # count only inside a scope() call
        self.inside = 0
        for mod, name in _STEPS:
            monkeypatch.setattr(mod, name, self._wrap(name, getattr(mod, name)))

    def _wrap(self, name, real):
        def step(*a, **k):
            mine = (
                self.depth == 0
                and self.root is not None
                and (str(a[0]) + os.sep).startswith(self.root + os.sep)
                and (self.inside or not self.scoped)
            )
            if mine and self.armed:
                if self.dead and self.crash_at and self.count >= self.crash_at:
                    raise Crash(f"after step {self.crash_at}: {name}{a[:2]}")
                self.count += 1
                if self.count == self.crash_at:
                    raise Crash(f"step {self.count}: {name}{a[:2]}")
            if mine and self.log is not None:
                self.log.append((name, str(a[0])))
            self.depth += 1
            try:
                return real(*a, **k)
            finally:
                self.depth -= 1

        return step

    def scope(self, real):
        def inner(*a, **k):
            self.inside += 1
            try:
                return real(*a, **k)
            finally:
                self.inside -= 1

        return inner

    @contextlib.contextmanager
    def arm(self, root, crash_at=None):
        self.root, self.armed, self.crash_at, self.count = root, True, crash_at, 0
        self.log = []
        try:
            yield self.log
        finally:
            self.root, self.armed, self.log = None, False, None

    @contextlib.contextmanager
    def watch(self, root):
        self.root, self.log = root, []
        try:
            yield self.log
        finally:
            self.root, self.log = None, None


def _recovery_actions(log) -> set[str]:
    """Classify the steps a reopen took into the recovery actions."""
    out = set()
    for name, path in log:
        base = os.path.basename(path)
        if base.startswith(".tmp-old-"):  # a run hidden by a compaction
            if name == "rename":
                out.add("roll_back")
            elif name == "rmtree":
                out.add("roll_forward")
        elif name == "remove" and base.startswith(sdb.COMPACT_PLAN + ".tmp-"):
            out.add("reap_plan_debris")
        elif name in ("rename", "replace"):
            if "!tmp-" in base:
                out.add("promote")  # a complete ledger recording sealed
            elif ".old-" in base:
                out.add("restore")  # a missing data dir brought back
        elif name == "rmtree":
            if "!tmp-" in base:
                out.add("reap_torn")
            elif re.search(r"\.(tmp|compact|old)-", base):
                out.add("reap_debris")
    return out


_SUFFIX = re.compile(r"((?:\.old|\.tmp|\.compact|!tmp)-)[0-9a-f-]+$")


def _layout(root: str) -> list[str]:
    """Entry names of a store root and its ledger, unique suffixes
    masked: a crashed-then-retried store must leave no extra debris or
    backups compared with its twin."""
    out = []
    for sub in ("", "applied"):
        d = os.path.join(root, sub)
        if os.path.isdir(d):
            out += [_SUFFIX.sub(r"\1*", os.path.join(sub, n)) for n in os.listdir(d)]
    return sorted(out)


_DB_MASK = re.compile(r"^(tx\.|\.tmp-old-|.*\.tmp-)[0-9a-f-]+$")


def _db_layout(root: str) -> list[str]:
    """A database's top-level names, unique suffixes masked. Left out:
    the view cache (rebuilt on demand) and unpublished run writes — a
    writer's owned ``.tmp-<pid>-*`` dir and compaction's
    ``.tmp-compact-*`` output — which the janitor reaps only once no
    live writer holds their lock and they are an hour old; the sweep's
    debris is minutes old."""
    return sorted(
        _DB_MASK.sub(r"\1*", n)
        for n in os.listdir(root)
        if n != ".cache" and not re.match(r"\.tmp-(\d|compact-)", n)
    )


def _json(path: str):
    """The file's object, or None if absent. A partial file raises."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _index_rows(idx, columns) -> list[tuple]:
    """An index handle's data rows, read with pyarrow (no Spark job:
    the sweep reads them twice per step). Like Spark, pyarrow skips
    ``_``/``.``-prefixed files, and the handle's open already ran the
    open-time recovery."""
    if not os.path.isdir(idx._data):
        return []
    t = pq.read_table(idx._data, columns=columns)
    return sorted(zip(*(t.column(c).to_pylist() for c in columns)))


def _pairs(df) -> frozenset:
    return frozenset((r["id_a"], r["id_b"]) for r in df.collect())


@dataclass
class Case:
    prepare: Callable  # (spark, root): build the pre-op store
    op: Callable  # (spark, root) -> output, compared with the twin's
    state: Callable  # (spark, root) -> old-or-new, via a fresh handle
    final: Callable | None = None  # after the retry; default state + layout
    expect: set = field(default_factory=set)  # recovery actions to fire
    scope: tuple | None = None  # (class, method): count steps only in it
    dead: bool = False  # no cleanup handler runs after the crash
    # False: retried only when the crash left the old state. A Database
    # commit carries no idempotency token, so its caller re-sends only
    # a commit it cannot see; a blind re-send adds a second run.
    idempotent: bool = True


# -- inputs (every frame <= 50 rows) ----------------------------------------

_TOPICS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a stitch in time saves nine when the cold weather finally turns",
    "all that glitters is not gold said the old miner to his son",
    "fortune favors the bold but patience wins the long slow race",
    "early birds catch worms while night owls watch the quiet stars",
]


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"{_TOPICS[i % 5]} tail{i % 3}") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _hashes(spark, lo, hi):
    return spark.createDataFrame(
        [(hashlib.md5(f"doc{i}".encode()).hexdigest(),) for i in range(lo, hi)],
        "h string",
    )


def _values(spark, lo, hi):
    return spark.createDataFrame(
        [(f"g{i % 3}", float(i % 11 + 1), f"v{i}") for i in range(lo, hi)],
        "g string, x double, v string",
    )


def _row(key, ts, v):
    return {"key": key, "ts": T0 + ts, "fmt": "u", "v_long": [v],
            "v_double": [], "v_str": [], "v_bin": []}


DB_KEYS = [f"k{i}" for i in range(10)]


def _db_prepare(s, r):
    """Two overlapping data runs (LWW) and a delete marker run."""
    db = Database(s, r, buckets=4)
    db.commit_rows([_row(f"k{i}", t, i) for i in range(6) for t in range(3)])
    db.commit_rows([_row(f"k{i}", 1, 100 + i) for i in range(2, 8)])
    db.commit_deletes([
        {"first_key": "k1", "last_key": "k2"},
        {"first_key": "k4", "last_key": "k5", "after_ns": T0 + 2},
    ])


def _db_state(s, r):
    """The snapshot a fresh handle sees: run kinds, the merged rows
    through Spark, and every key through the Spark-free point read."""
    db = Database(s, r)
    runs = [(_DB_MASK.sub(r"\1*", x.name), x.is_delete) for x in db.runs()]
    return runs, _rows(db.read()), [db.get(k) for k in DB_KEYS]


def _db_final(s, r):
    return _db_state(s, r), _db_layout(r)


def _cases(spark, sf_dir) -> dict[str, Case]:
    def lsh(r):
        return dedup.LshIndex(spark, r)

    def exact(r):
        return dedup.ExactIndex(spark, r)

    # -- LshIndex ------------------------------------------------------------
    def lsh_add_prepare(s, r):
        lsh(r).add(_docs(s, 0, 20), "doc_id", "text", batch_id="b1")

    def lsh_add(s, r):
        pairs = _pairs(lsh(r).add(_docs(s, 20, 40), "doc_id", "text", batch_id="b2"))
        assert pairs, "no near-dup pairs: comparing outputs would prove nothing"
        return pairs

    def lsh_state(s, r):
        idx = lsh(r)
        return idx.batch_applied("b2"), frozenset(_index_rows(idx, LSH_COLS))

    def lsh_compact_prepare(s, r):
        idx = lsh(r)
        idx.add(_docs(s, 0, 20), "doc_id", "text")
        idx.add(_docs(s, 0, 20), "doc_id", "text")  # duplicate rows
        idx.add(_docs(s, 20, 40), "doc_id", "text", batch_id="b2")

    def lsh_compact_final(s, r):
        idx = lsh(r)
        replay = idx.add(_docs(s, 20, 40), "doc_id", "text", batch_id="b2")
        return _index_rows(idx, LSH_COLS), _pairs(replay), _layout(r)

    # -- ExactIndex ----------------------------------------------------------
    def exact_append_prepare(s, r):
        exact(r).append_hashes(_hashes(s, 0, 20), batch_id="b1")

    def exact_append(s, r):
        exact(r).append_hashes(_hashes(s, 20, 40), batch_id="b2")

    def exact_state(s, r):
        ex = exact(r)
        return ex.batch_applied("b2"), frozenset(_index_rows(ex, ["h"]))

    def exact_append_final(s, r):
        # the replayed probe's survivors: the batch minus what the index
        # held before the batch (seen() minus the batch's own recording)
        ex = exact(r)
        h2 = _hashes(s, 20, 40)
        before = set(_rows(ex.seen(h2))) - set(_rows(ex.batch_hashes("b2")))
        return exact_state(s, r), set(_rows(h2)) - before, _layout(r)

    def exact_compact_prepare(s, r):
        ex = exact(r)
        ex.append_hashes(_hashes(s, 0, 20))
        ex.append_hashes(_hashes(s, 0, 20))  # duplicate rows
        ex.append_hashes(_hashes(s, 20, 40), batch_id="b2")

    # -- sketch stores -------------------------------------------------------
    def two_adds(store, add):
        def prepare(s, r):
            st = store(r)
            add(st, 0, _values(s, 0, 15))
            add(st, 1, _values(s, 15, 30))  # leaves a backup generation

        return prepare

    def hll(r):
        return HllStore(spark, r, bucket_bits=4)

    def bloom(r):
        return BloomStore(spark, r, num_bits=1024)

    def dd(r):
        return DdStore(spark, r)

    def hll_add(st, i, df):
        st.add(df, "g", "v")

    def bloom_add(st, i, df):
        st.add(df, "v")

    def dd_add(st, i, df):
        st.add(i, df, "g", "x")

    # -- IVF metadata --------------------------------------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter("vec_id < 40")

    def ivf_build(cls, meta, **kw):
        def prepare(s, r):
            cls(s, r).build(emb, num_centroids=2, **kw)

        def op(s, r):
            cls(s, r).build(emb, num_centroids=3, **kw)

        return dict(prepare=prepare, op=op, state=lambda s, r: _json(os.path.join(r, meta)))

    # -- rollup cursor -------------------------------------------------------
    def rollup(s, r):
        src = Database(s, os.path.join(r, "src"))
        return src, ContinuousRollup(src, os.path.join(r, "roll"), interval_ns=HOUR)

    def rollup_prepare(s, r):
        src, roll = rollup(s, r)
        tx = src.create_tx()
        for i in range(6):
            tx.add_record("a", T0 + i * 1800 * 10**9, "u", [i])
        tx.commit()
        roll.refresh()
        tx = src.create_tx()
        tx.add_record("a", T0 + 600 * 10**9, "u", [100])
        tx.add_record("b", T0 + 4 * HOUR, "u", [7])
        tx.commit()

    def rollup_state(s, r):
        return _json(rollup(s, r)[1]._cursor_path)

    def rollup_final(s, r):
        return rollup_state(s, r), _rows(rollup(s, r)[1].read())

    # -- first open ----------------------------------------------------------
    def first_open(open_, meta):
        return dict(
            prepare=lambda s, r: os.makedirs(r),
            op=lambda s, r: open_(r) and None,
            state=lambda s, r: _json(os.path.join(r, meta)),
        )

    # -- Database ------------------------------------------------------------
    def db_spill(s, r):
        tx = Transaction(Database(s, r), strict_order=True, spill_threshold=4)
        for i in range(10):
            tx.add_record(f"k{i}", T0 + 5, "u", [200 + i])
        assert tx._spill_dir is not None, "never spilled"
        return tx.commit()

    def db_case(op, **kw):
        return Case(_db_prepare, op, _db_state, final=_db_final, dead=True, **kw)

    def db_commit(op):
        return db_case(lambda s, r: op(s, r) and None, idempotent=False)

    db_recovered = set(DB_ACTIONS)

    sketch_state = {
        "hll": lambda s, r: _rows(hll(r).sketches()),
        "bloom": lambda s, r: _rows(bloom(r).sketch()),
        "dd": lambda s, r: (dd(r).applied(), _rows(dd(r).sketches())),
    }
    recovered = {"restore", "reap_debris"}
    return {
        "lsh_add": Case(
            lsh_add_prepare, lsh_add, lsh_state, expect={"promote", "reap_torn"}
        ),
        "lsh_compact": Case(
            lsh_compact_prepare,
            lambda s, r: lsh(r).compact(),
            lambda s, r: _index_rows(lsh(r), LSH_COLS),
            final=lsh_compact_final,
            expect=recovered,
        ),
        "exact_append": Case(
            exact_append_prepare,
            exact_append,
            exact_state,
            final=exact_append_final,
            expect={"promote", "reap_torn"},
        ),
        "exact_compact": Case(
            exact_compact_prepare,
            lambda s, r: exact(r).compact(),
            lambda s, r: _index_rows(exact(r), ["h", "pfx"]),
            expect=recovered,
        ),
        "hll_add": Case(
            two_adds(hll, hll_add),
            lambda s, r: hll_add(hll(r), 2, _values(s, 30, 45)),
            sketch_state["hll"],
            expect=recovered,
        ),
        "bloom_add": Case(
            two_adds(bloom, bloom_add),
            lambda s, r: bloom_add(bloom(r), 2, _values(s, 30, 45)),
            sketch_state["bloom"],
            expect=recovered,
        ),
        "bloom_rebuild": Case(
            two_adds(bloom, bloom_add),
            lambda s, r: bloom(r).rebuild(_values(s, 0, 10), "v"),
            sketch_state["bloom"],
            expect=recovered,
        ),
        "dd_add": Case(
            two_adds(dd, dd_add),
            lambda s, r: dd_add(dd(r), 2, _values(s, 30, 45)),
            sketch_state["dd"],
            expect=recovered,
        ),
        "ivf_build": Case(**ivf_build(similarity.IvfIndex, "centroids.json")),
        "ivfpq_build": Case(
            **ivf_build(similarity.IvfPqIndex, "params.json", pq_m=4, pq_ksub=4)
        ),
        "rollup_refresh": Case(
            rollup_prepare,
            lambda s, r: rollup(s, r)[1].refresh() and None,
            rollup_state,
            final=rollup_final,
            scope=(ContinuousRollup, "_store_cursor"),
        ),
        "hll_open": Case(**first_open(hll, "params.json")),
        "bloom_open": Case(**first_open(bloom, "params.json")),
        "dd_open": Case(**first_open(dd, "params.json")),
        "lsh_open": Case(**first_open(lsh, "lsh_index.json")),
        "db_open": Case(
            lambda s, r: os.makedirs(r),
            lambda s, r: Database(s, r, buckets=4) and None,
            lambda s, r: _json(os.path.join(r, "BUCKETS")),
            final=lambda s, r: (_json(os.path.join(r, "BUCKETS")), _db_layout(r)),
            dead=True,
        ),
        "db_commit_rows": db_commit(
            lambda s, r: Database(s, r).commit_rows(
                [_row("k0", 0, 300), _row("k8", 0, 8)]
            )
        ),
        "db_commit_deletes": db_commit(
            lambda s, r: Database(s, r).commit_deletes(
                [{"first_key": "k3", "last_key": "k4"}]
            )
        ),
        "db_spill_commit": db_commit(db_spill),
        "db_commit_dataframe": db_commit(
            lambda s, r: Database(s, r).commit_dataframe(
                s.createDataFrame(
                    [_row("k2", 1, 400), _row("k9", 3, 9)], sdb.RECORD_SCHEMA
                )
            )
        ),
        "db_compact_minor": db_case(
            lambda s, r: Database(s, r).compact(), expect=db_recovered
        ),
        "db_compact_major": db_case(
            lambda s, r: Database(s, r).compact(major=True), expect=db_recovered
        ),
        "db_rebucket": db_case(
            lambda s, r: Database(s, r).rebucket(8), expect=db_recovered
        ),
    }


CASES = [
    "lsh_add", "lsh_compact", "exact_append", "exact_compact",
    "hll_add", "bloom_add", "bloom_rebuild", "dd_add",
    "ivf_build", "ivfpq_build", "rollup_refresh",
    "hll_open", "bloom_open", "dd_open", "lsh_open",
    "db_open", "db_commit_rows", "db_commit_deletes", "db_spill_commit",
    "db_commit_dataframe", "db_compact_minor", "db_compact_major", "db_rebucket",
]


@pytest.mark.parametrize("name", CASES)
def test_crash_at_every_step_leaves_old_or_new(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    case = _cases(spark, sf_dir)[name]
    steps = Steps(monkeypatch, dead=case.dead)
    if case.scope:
        cls, meth = case.scope
        monkeypatch.setattr(cls, meth, steps.scope(getattr(cls, meth)))
        steps.scoped = True
    final = case.final or (lambda s, r: (case.state(s, r), _layout(r)))

    tpl, twin = str(tmp_path / "tpl"), str(tmp_path / "twin")
    case.prepare(spark, tpl)
    _copytree(tpl, twin)
    old = case.state(spark, twin)
    with steps.arm(twin) as log:
        out = case.op(spark, twin)
    clean = _recovery_actions(log)  # taken by the op itself: no recovery
    n = steps.count
    assert n >= 3, f"{name}: only {n} steps — the sweep would prove nothing"
    new = case.state(spark, twin)
    assert new != old, f"{name}: the operation changed nothing observable"
    want = final(spark, twin)

    fired: set[str] = set()
    for k in range(1, n + 1):
        d = str(tmp_path / f"k{k}")
        _copytree(tpl, d)
        with steps.arm(d, crash_at=k), pytest.raises(Crash):
            case.op(spark, d)
        with steps.watch(d) as log:
            got = case.state(spark, d)
        assert got in (old, new), f"{name}: crash at step {k}/{n} left {got!r}"
        fired |= _recovery_actions(log)
        if case.idempotent or got == old:
            with steps.watch(d) as log:
                assert case.op(spark, d) == out, f"{name}: retry after step {k}"
            fired |= _recovery_actions(log) - clean
        assert final(spark, d) == want, f"{name}: final state after step {k}"
    assert case.expect <= fired, f"{name}: never fired {case.expect - fired}"


def test_sweep_reaches_every_recovery_action(spark, sf_dir):
    """The per-case expectations together cover every recovery path:
    a missing data dir restored, debris reaped, a complete ledger
    recording promoted and a torn one reaped; for the Database, an
    interrupted compaction swap rolled back (hidden runs restored) or
    forward (hidden runs purged), and a killed plan write's tmp reaped."""
    cases = _cases(spark, sf_dir)
    assert set(cases) == set(CASES)
    assert set().union(*(c.expect for c in cases.values())) == ACTIONS


def test_every_db_rename_is_swept_or_named():
    """A publish point added to db.py must join the sweep (an operation
    that crashes it) or be named in DB_RENAMES_NOT_SWEPT with a reason."""
    tree = ast.parse(inspect.getsource(sdb))
    found = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for call in ast.walk(fn):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr in ("rename", "replace")
                    and getattr(call.func.value, "id", None) == "os"
                ):
                    found.add(fn.name)
    assert found == DB_RENAMES_SWEPT | set(DB_RENAMES_NOT_SWEPT)
