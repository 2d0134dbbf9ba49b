"""Point-read fast path: must be indistinguishable from the Spark plan.

Metamorphic suite in the reference's style (parallel-vs-serial
equivalence, tests.rs:726-785): db.get(key) vs db.read(key=...) on a DB
with multiple runs, LWW overwrites, delete markers, and compaction.
"""

import gc
import os
import weakref

import pytest

from sonnerie_spark.db import Database

T0 = 1577836800 * 10**9
NS = 10**9


@pytest.fixture()
def db(spark, tmp_path):
    return Database(spark, str(tmp_path / "db"))


def _spark_rows(db, key, **kw):
    return [
        (r.key, r.ts, r.fmt, r.v_long, r.v_double, r.v_str, r.v_bin)
        for r in db.read_sorted(key=key, **kw).collect()
    ]


def _point_rows(db, key, **kw):
    return [
        (r["key"], r["ts"], r["fmt"], r["v_long"], r["v_double"], r["v_str"], r["v_bin"])
        for r in db.get(key, **kw)
    ]


def _norm(rows):
    # Spark returns None for empty arrays written as [] by pyarrow? both
    # paths produce lists; compare with tuples for stability
    return [tuple(tuple(c) if isinstance(c, list) else c for c in r) for r in rows]


def _seed(db):
    tx = db.create_tx()
    for k in ["alpha", "beta", "under_score", "zeta"]:
        for i in range(5):
            tx.add_record(k, T0 + i * NS, "u", [i])
    tx.commit()
    # overwrite a few (key, ts) in a later run
    tx2 = db.create_tx()
    tx2.add_record("beta", T0 + 1 * NS, "u", [100])
    tx2.add_record("beta", T0 + 10 * NS, "u", [110])
    tx2.commit()
    # delete a time slice of alpha and all of zeta
    db.commit_deletes(
        [
            {"wildcard": "alpha", "after_ns": T0 + 1 * NS, "before_ns": T0 + 3 * NS},
            {"wildcard": "zeta%"},
        ]
    )
    # post-delete write survives (txid scoping)
    tx3 = db.create_tx()
    tx3.add_record("zeta", T0, "u", [42])
    tx3.commit()


@pytest.mark.parametrize("key", ["alpha", "beta", "under_score", "zeta", "missing"])
def test_point_read_matches_spark_plan(db, key):
    _seed(db)
    assert _norm(_point_rows(db, key)) == _norm(_spark_rows(db, key))


def test_point_read_time_bounds(db):
    _seed(db)
    kw = dict(after_ns=T0 + 1 * NS, before_ns=T0 + 4 * NS)
    for key in ["alpha", "beta"]:
        assert _norm(_point_rows(db, key, **kw)) == _norm(_spark_rows(db, key, **kw))


def test_point_read_after_compaction_and_footer_cache(db):
    _seed(db)
    before = _norm(_point_rows(db, "beta"))  # warms the footer cache
    db.compact(major=True)
    after = _norm(_point_rows(db, "beta"))  # cache must notice replaced runs
    assert after == before
    assert _norm(_point_rows(db, "zeta")) == _norm(_spark_rows(db, "zeta"))


def _cached(run, attr):
    """Has ``run`` (a listed ``RunInfo``) read and kept ``attr``?"""
    return attr in vars(run)


def _refs(runs):
    """Weak references to ``runs``: one that dies shows the handle holds
    nothing of that run any more (its footers and markers lived on it)."""
    return [weakref.ref(r) for r in runs]


def _all_dead(refs):
    gc.collect()
    return all(r() is None for r in refs)


def test_footer_cache_evicts_replaced_runs(db):
    """Footers of compacted-away runs must be DROPPED by the next read:
    a replaced run is never listed again, so a long-lived serve process
    would otherwise grow its memory by one run's footers for every
    replaced transaction. The footers live on the listed ``RunInfo``,
    so the handle holds them only while it lists the run."""
    _seed(db)
    db.get("beta")  # warm: footers on every data run
    n_runs = sum(_cached(r, "footers") for r in db.runs())
    assert n_runs == len(db.data_runs()) > 1
    old = _refs(db.runs())
    db.compact(major=True)
    db.get("beta")  # post-compaction read reconciles the cache
    assert _all_dead(old)
    (main,) = db.data_runs()
    assert _cached(main, "footers") and len(db.runs()) == 1
    del main
    # prefix fast path reconciles too
    db.commit_rows(
        [{"key": "beta", "ts": 999, "fmt": "u", "v_long": [1],
          "v_double": [], "v_str": [], "v_bin": []}]
    )
    db.get_prefix("bet")
    old = _refs(db.runs())
    db.compact(major=True)
    db.get_prefix("bet")
    assert _all_dead(old)
    assert [_cached(r, "footers") for r in db.runs()] == [True]


def _local_db(tmp_path):
    """Spark-free database: commit_rows, commit_deletes and get need no
    session."""
    return Database(None, str(tmp_path / "db"), buckets=2, durable=False)


def _u_row(key, ts, v):
    return {"key": key, "ts": ts, "fmt": "u", "v_long": [v],
            "v_double": [], "v_str": [], "v_bin": []}


def test_delete_markers_parsed_once_per_run(tmp_path, monkeypatch):
    """Marker runs are immutable: with k of them, repeated GETs parse
    each run's markers once, not once per GET."""
    db = _local_db(tmp_path)
    db.commit_rows([_u_row("k", T0 + i * NS, i) for i in range(10)])
    k = 3
    for i in range(k):
        db.commit_deletes(
            [{"wildcard": "k", "after_ns": T0 + i * NS, "before_ns": T0 + i * NS + 1}]
        )
    import pyarrow.parquet as pq

    parsed = []  # every deletes.parquet read
    real = pq.read_table

    def counting(source, *a, **kw):
        if os.path.basename(source) == "deletes.parquet":
            parsed.append(source)
        return real(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", counting)
    for _ in range(5):
        assert [r["ts"] for r in db.get("k")] == [T0 + i * NS for i in range(k, 10)]
    assert len(parsed) == k  # not 5 * k
    assert sorted(parsed) == sorted(
        os.path.join(r.path, "deletes.parquet") for r in db.runs() if r.is_delete
    )


def test_marker_cache_sees_new_delete_on_next_get(tmp_path):
    db = _local_db(tmp_path)
    db.commit_rows([_u_row("k", T0 + i * NS, i) for i in range(4)])
    db.commit_deletes([{"wildcard": "k", "before_ns": T0 + 1}])
    assert [r["v_long"][0] for r in db.get("k")] == [1, 2, 3]  # warm
    db.commit_deletes([{"wildcard": "k", "after_ns": T0 + 3 * NS}])
    assert [r["v_long"][0] for r in db.get("k")] == [1, 2]
    # a later write is not hit by the cached earlier markers
    db.commit_rows([_u_row("k", T0, 9)])
    assert [r["v_long"][0] for r in db.get("k")] == [9, 1, 2]


def test_marker_cache_concurrent_readers_see_monotone_snapshots(tmp_path):
    """Serve handlers share one handle without a lock. Readers on
    more threads than cores, racing a writer that deletes one ts per
    commit, must each see a committed snapshot (records j..9) and never
    an older one than they saw before."""
    import sys
    import threading

    db = _local_db(tmp_path)
    db.commit_rows([_u_row("k", T0 + i * NS, i) for i in range(10)])
    k = 6
    seen: dict[int, list[int]] = {}
    errors: list[BaseException] = []

    def reader(tid):
        try:
            while len(seen.setdefault(tid, [])) < 40:
                vals = [r["v_long"][0] for r in db.get("k")]
                j = vals[0]
                assert vals == list(range(j, 10)) and j <= k
                seen[tid].append(j)
        except BaseException as e:  # surfaced by the main thread below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for i in range(k):
            db.commit_deletes(
                [{"wildcard": "k", "after_ns": T0 + i * NS, "before_ns": T0 + i * NS + 1}]
            )
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    for js in seen.values():
        assert js == sorted(js)
    assert [r["v_long"][0] for r in db.get("k")] == list(range(k, 10))


def test_concurrent_readers_across_same_name_republishes(tmp_path, monkeypatch):
    """Readers on more threads than cores share one handle (and its run
    listing cache) while the lone run is republished under its own name,
    each time with other keys, by a swap that pauses after its hide
    rename (a compactor descheduled mid-swap), so whole reads fall in
    the hide window. Every read must return exactly one published
    version, never an older one than that reader saw: a read that lists
    the run as hidden before and after its attempt returned no rows."""
    import sys
    import threading
    import time

    real_rename = os.rename

    def slow_hide(src, dst):
        real_rename(src, dst)
        if os.path.basename(dst).startswith(".tmp-old-"):
            time.sleep(0.02)

    monkeypatch.setattr(os, "rename", slow_hide)

    def version(v):
        keys = ("a", "c") if v % 2 else ("b", "c")
        return [_u_row(k, T0 + i, v) for k in keys for i in range(v % 3 + 1)]

    db = _local_db(tmp_path)
    name = db.commit_rows(version(0))
    last = 6
    seen: dict[int, list[int]] = {}
    errors: list[BaseException] = []
    done = threading.Event()

    def reader(tid):
        mine = seen[tid] = []
        try:
            while not done.is_set() or len(mine) < 10:
                rows = db.get_prefix("")
                v = rows[0]["v_long"][0]
                assert rows == version(v), (v, rows)
                mine.append(v)
        except BaseException as e:  # surfaced by the main thread below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for v in range(1, last + 1):
            _republish(db, name, version(v))
        done.set()
        for t in threads:
            t.join(timeout=120)
    finally:
        done.set()
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    for vs in seen.values():
        assert vs == sorted(vs)
    assert db.get_prefix("") == version(last)


def test_point_read_outlasts_a_commit_streak(tmp_path, monkeypatch):
    """Every commit that lands inside a point-read attempt fails the
    attempt's closing run listing. A writer committing back-to-back
    (a PUT streak on another serve connection) must delay the read, not
    fail it, and the answer is the state after the streak."""
    db = _local_db(tmp_path)
    db.commit_rows([_u_row("k", T0 + i * NS, i) for i in range(3)])
    db.get("k")  # warm the footer cache
    streak = 10
    probes = []
    real = Database.runs

    def racing(self):
        probes.append(None)
        # even calls are an attempt's closing listing: a commit beats it
        if len(probes) % 2 == 0 and len(probes) <= 2 * streak:
            self.commit_rows([_u_row("k", T0 + (100 + len(probes)) * NS, 7)])
        return real(self)

    monkeypatch.setattr(Database, "runs", racing)
    rows = db.get("k")
    assert len(probes) == 2 * (streak + 1)  # streak lost attempts + 1
    assert [r["v_long"][0] for r in rows] == [0, 1, 2] + [7] * streak


def test_marker_cache_evicts_markers_purged_by_compaction(db):
    _seed(db)
    before = {k: _norm(_point_rows(db, k)) for k in ("alpha", "zeta")}
    dels = [r for r in db.runs() if r.is_delete]
    assert dels and all(_cached(r, "markers") for r in dels)
    old = _refs(dels)
    del dels
    db.compact(major=True)  # purges the marker run from disk
    assert not any(r.is_delete for r in db.runs())
    after = {k: _norm(_point_rows(db, k)) for k in ("alpha", "zeta")}
    assert _all_dead(old)
    assert after == before
    assert after["zeta"] == _norm(_spark_rows(db, "zeta"))


def test_point_read_lww_values(db):
    _seed(db)
    vals = {r["ts"]: r["v_long"][0] for r in db.get("beta")}
    assert vals[T0 + 1 * NS] == 100  # overwritten by the later run
    assert vals[T0 + 10 * NS] == 110
    assert vals[T0] == 0


def test_prefix_read_matches_spark_plan(db):
    _seed(db)

    def _prefix_rows(prefix):
        rows = db.get_prefix(prefix)
        assert rows is not None
        return [
            (r["key"], r["ts"], r["fmt"], r["v_long"], r["v_double"], r["v_str"], r["v_bin"])
            for r in rows
        ]

    def _spark_wild(pat):
        return [
            (r.key, r.ts, r.fmt, r.v_long, r.v_double, r.v_str, r.v_bin)
            for r in db.read_sorted(wildcard=pat).collect()
        ]

    for prefix in ["a", "be", "z", "under_", "nope"]:
        assert _norm(_prefix_rows(prefix)) == _norm(_spark_wild(prefix + "%")), prefix


def test_prefix_read_falls_back_when_too_large(db):
    _seed(db)
    # a zero-group budget can never satisfy any non-empty match
    assert db.get_prefix("a", max_groups=0) is None


def test_point_read_during_compaction_swaps(db):
    """Point reads racing compaction swaps must never return partial
    data: the reader retries when the run listing changes under it."""
    import threading

    for burst in range(4):
        tx = db.create_tx()
        for i in range(10):
            tx.add_record("hot", T0 + (burst * 10 + i) * NS, "u", [burst * 10 + i])
        tx.commit()

    results, errs = [], []

    def reader():
        try:
            for _ in range(60):
                results.append(len(db.get("hot")))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t = threading.Thread(target=reader)
    t.start()
    for _ in range(3):
        db.compact(major=True)
        tx = db.create_tx()
        tx.add_record("cold", T0, "u", [1])
        tx.commit()
    t.join()
    assert not errs
    assert set(results) == {40}, set(results)  # never partial


def test_get_many_matches_per_key_gets(spark, tmp_path):
    """get_many == looping get(), across LWW overwrites and deletes,
    including keys that don't exist."""
    from sonnerie_spark.db import Database

    db = Database(spark, str(tmp_path / "gm"))
    tx = db.create_tx()
    for i in range(20):
        for t in range(3):
            tx.add_record(f"key{i:02d}", 1000 + t, "u", [i * 10 + t])
    tx.commit()
    tx = db.create_tx()
    tx.add_record("key03", 1001, "u", [999])  # LWW overwrite
    tx.commit()
    db.commit_deletes([{"wildcard": "key07"}])

    want = ["key03", "key07", "key11", "nosuchkey"]
    batch = db.get_many(want, after_ns=1000, before_ns=1003)
    assert set(batch) == set(want)
    for k in want:
        assert batch[k] == db.get(k, after_ns=1000, before_ns=1003), k
    assert batch["nosuchkey"] == []
    assert batch["key07"] == []  # deleted
    assert [r["v_long"][0] for r in batch["key03"]] == [30, 999, 32]


def test_point_read_prunes_row_groups_by_ts(spark, tmp_path):
    """A time-windowed get() must touch only the row groups whose ts
    stats overlap the window — a key spanning many groups pays for the
    window, not its whole history (strictly earlier than the
    reference's per-record time filter)."""
    from sonnerie_spark.db import Database

    db = Database(spark, str(tmp_path / "db"), buckets=1)
    rows = [
        {"key": "k", "ts": t, "fmt": "u", "v_long": [t], "v_double": None,
         "v_str": None, "v_bin": None}
        for t in range(1, 20001)
    ]
    # many small row groups: write driver-side with a tiny group size
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sonnerie_spark.bucketing import bucket_file_name, write_run_buckets
    from sonnerie_spark.db import arrow_record_schema

    import os
    def write(p):
        os.makedirs(p)
        tbl = pa.Table.from_pylist(rows, schema=arrow_record_schema())
        pq.write_table(tbl, os.path.join(p, bucket_file_name(0, "t")),
                       row_group_size=1000)  # 20 groups
        write_run_buckets(p, 1)

    db._atomic_commit(write)

    got = db.get("k", after_ns=5000, before_ns=5100)
    assert [r["ts"] for r in got] == list(range(5000, 5100))

    fm = db.data_runs()[0].footers[0]
    assert fm.num_row_groups >= 20
    pruned = fm.groups_for("k", 5000, 5100)
    assert len(pruned) <= 2  # the window spans at most 2 of 20 groups
    assert len(fm.groups_for("k")) >= 20  # unwindowed: all groups


def test_point_reader_matches_spark_plan_random_model(spark, tmp_path):
    """Randomized differential check (seeded): after a random history of
    commits, LWW overwrites, range/wildcard deletes and compactions,
    db.get(key) must equal the Spark plan's read(key=...) for every key
    — the two implementations of the merge semantics never diverge.
    Exercises the r5 arrow fast path (single run, no markers) AND the
    general dict path (multi-run + markers) across the history."""
    import random

    from sonnerie_spark.db import Database

    rng = random.Random(20260814)
    db = Database(spark, str(tmp_path / "rnd"), buckets=4)
    keys = [f"k{i:02d}" for i in range(12)]

    def check():
        for k in rng.sample(keys, 5):
            got = [
                (r["ts"], tuple(r["v_long"] or []))
                for r in db.get(k)
            ]
            want = [
                (r["ts"], tuple(r["v_long"] or []))
                for r in db.read_sorted(key=k).collect()
            ]
            assert got == want, (k, got, want)

    t = 1000
    for step in range(12):
        op = rng.random()
        if op < 0.55:
            tx = db.create_tx()
            for k in rng.sample(keys, rng.randrange(1, 6)):
                for _ in range(rng.randrange(1, 4)):
                    # mix of fresh ts and overwrites of older ts
                    ts = rng.choice([t + rng.randrange(50), rng.randrange(900, 1000 + step * 10)])
                    try:
                        tx.add_record(k, ts, "u", [step * 1000 + ts])
                    except Exception:
                        pass  # per-tx duplicate ts for the key: skip
            tx.commit()
            t += 100
        elif op < 0.8:
            lo, hi = sorted(rng.sample(range(900, 1400), 2))
            db.commit_deletes(
                [{
                    "first_key": rng.choice(keys),
                    "last_key": rng.choice(keys + [""] * 3),
                    "after_ns": lo,
                    "before_ns": hi,
                    "wildcard": rng.choice(["%", "k0%", "k1%"]),
                }]
            )
        else:
            db.compact(major=rng.random() < 0.5)
        check()


def test_point_read_duplicate_key_ts_in_one_run(spark, tmp_path):
    """check_duplicates=False commits (streaming ingest, rollup
    internals) can legally put duplicate (key, ts) rows in ONE run; the
    point reader must still return exactly one surviving row per
    (key, ts) and agree with the Spark plan (which resolves same-run
    duplicates by max(struct(payload)) in _lww_dedup)."""
    import pyspark.sql.functions as F

    db = Database(spark, str(tmp_path / "dupdb"))
    rows = [
        ("dup", T0, "u", [1]),
        ("dup", T0, "u", [7]),          # same (key, ts), larger payload
        ("dup", T0 + NS, "u", [2]),
        ("other", T0, "u", [3]),
    ]
    df = spark.createDataFrame(
        [(k, ts, f, v) for k, ts, f, v in rows],
        "key string, ts long, fmt string, v_long array<long>",
    ).select(
        "key", "ts", "fmt", "v_long",
        F.lit(None).cast("array<double>").alias("v_double"),
        F.lit(None).cast("array<string>").alias("v_str"),
        F.lit(None).cast("array<binary>").alias("v_bin"),
    )
    db.commit_dataframe(df, check_duplicates=False)

    # single-run DB: the vectorized fast path must detect the conflict
    got = db.get("dup")
    assert [(r["ts"], r["v_long"]) for r in got] == [(T0, [7]), (T0 + NS, [2])]
    assert _norm(_point_rows(db, "dup")) == _norm(_spark_rows(db, "dup"))

    # a second run on top: multi-run dict path with the same-run dup
    tx = db.create_tx()
    tx.add_record("other", T0 + NS, "u", [9])
    tx.commit()
    assert _norm(_point_rows(db, "dup")) == _norm(_spark_rows(db, "dup"))
    assert _norm(_point_rows(db, "other")) == _norm(_spark_rows(db, "other"))


def _spark_fold(db, **kw):
    """Ground truth for agg_series via the Spark plan."""
    import pyspark.sql.functions as F

    v = F.coalesce(
        F.try_element_at("v_double", F.lit(1)),
        F.try_element_at("v_long", F.lit(1)).cast("double"),
    )
    return [
        {"key": r["key"], "n": r["n"], "sum": r["sum"], "min": r["min"],
         "max": r["max"]}
        for r in db.read(**kw)
        .select("key", v.alias("v"))
        .groupBy("key")
        .agg(F.count("v").alias("n"), F.sum("v").alias("sum"),
             F.min("v").alias("min"), F.max("v").alias("max"))
        .orderBy("key").collect()
    ]


def test_agg_series_arrow_fold_matches_spark(spark, tmp_path):
    """agg_series: the driver-side Arrow fold on the compacted steady
    state must equal the Spark plan, across heterogeneous formats,
    filters, and time windows; pre-compaction (multi-run, markers) it
    declines and the fallback answers identically."""
    from sonnerie_spark.pointread import arrow_agg_series

    db = Database(spark, str(tmp_path / "db"), buckets=4)
    tx = db.create_tx()
    for i in range(50):
        tx.add_record(f"s{i % 5}", T0 + i * NS, "u", [i])
        tx.add_record(f"f{i % 3}", T0 + i * NS, "F", [i * 0.5])
    tx.add_record("novals", T0, "s", ["text-only"])
    tx.commit()
    tx2 = db.create_tx()
    tx2.add_record("s0", T0, "u", [999])  # LWW overwrite
    tx2.commit()
    db.commit_deletes([{"wildcard": "f2"}])

    # multi-run + markers: arrow path must decline, fallback must match
    assert arrow_agg_series(db) is None
    assert db.agg_series() == _spark_fold(db)

    db.compact(major=True)
    # steady state: arrow path engages and matches the Spark plan
    assert arrow_agg_series(db) is not None
    for kw in [
        {},
        {"key": "s0"},
        {"wildcard": "s%"},
        {"after_ns": T0 + 10 * NS, "before_ns": T0 + 30 * NS},
        {"wildcard": "f%", "after_ns": T0 + 5 * NS},
        {"key": "missing"},
    ]:
        assert db.agg_series(**kw) == _spark_fold(db, **kw), kw
    # mid-pattern wildcard: declines (Spark fallback still correct)
    assert arrow_agg_series(db, wildcard="s%0") is None
    assert db.agg_series(wildcard="s%0") == _spark_fold(db, wildcard="s%0")


def test_agg_series_after_a_major_compaction_deleted_everything(spark, tmp_path):
    """A major compaction that deletes every record publishes a ``_U``
    ``main`` holding no parquet file. The Arrow fold declines it (the
    listed run has no file to scan) and the Spark plan answers [],
    instead of failing every attempt on an empty dataset."""
    from sonnerie_spark.pointread import arrow_agg_series

    db = Database(spark, str(tmp_path / "db"), buckets=2)
    db.commit_rows([_u_row("a", T0, 1)])
    db.commit_deletes([{"wildcard": "%"}])
    db.compact(major=True)
    assert db.agg_series() == []
    assert arrow_agg_series(db) is None
    (run,) = db.runs()
    assert run.unique and run.files == ()


def test_agg_series_lane_elision_matches_spark(spark, tmp_path):
    """Homogeneous-format runs engage the value-lane elision (the
    footer proves the unused lane empty, so it is never decoded — the
    r7 fold optimization): both single-lane shapes and the no-numeric
    shape must still equal the Spark plan exactly."""
    from sonnerie_spark.pointread import arrow_agg_series

    for fmt, vals in [("u", lambda i: [i]), ("F", lambda i: [i * 0.25])]:
        db = Database(spark, str(tmp_path / f"db_{fmt}"), buckets=2)
        tx = db.create_tx()
        for i in range(40):
            tx.add_record(f"k{i % 4}", T0 + i * NS, fmt, vals(i))
        tx.commit()
        db.compact(major=True)
        assert arrow_agg_series(db) is not None
        assert db.agg_series() == _spark_fold(db), fmt

    # strings-only: BOTH numeric lanes elided -> every key folds to
    # n=0 with null aggregates, same as the Spark plan
    db = Database(spark, str(tmp_path / "db_s"), buckets=2)
    tx = db.create_tx()
    for i in range(10):
        tx.add_record(f"t{i % 2}", T0 + i * NS, "s", [f"v{i}"])
    tx.commit()
    db.compact(major=True)
    assert arrow_agg_series(db) is not None
    assert db.agg_series() == _spark_fold(db)


def test_segmented_fold_matches_hash_agg():
    """_segmented_fold (the r9 reduceat fold) is a drop-in for the
    pyarrow hash aggregation: metamorphic over row order (sortedness
    is a performance assumption, never a correctness precondition),
    per-chunk dictionaries, null values, and the n=0 all-null group;
    declines (None) on non-dictionary keys and genuine NaN payloads."""
    import numpy as np
    import pyarrow as pa

    from sonnerie_spark.pointread import _segmented_fold

    rng = np.random.default_rng(7)

    def reference(keys, vals):
        agg = {}
        for k, v in zip(keys, vals):
            e = agg.setdefault(k, [0, 0.0, np.inf, -np.inf])
            if v is not None:
                e[0] += 1
                e[1] += v
                e[2] = min(e[2], v)
                e[3] = max(e[3], v)
        return [
            {
                "key": k,
                "n": e[0],
                "sum": e[1] if e[0] else None,
                "min": e[2] if e[0] else None,
                "max": e[3] if e[0] else None,
            }
            for k, e in sorted(agg.items())
        ]

    keys, vals, kchunks, vchunks = [], [], [], []
    # three chunks with DIFFERENT dictionaries, unsorted codes, nulls,
    # and a key ("z-null") whose every value is null
    for ci, (dict_vals, n) in enumerate(
        [(["b", "a", "z-null"], 37), (["c", "a"], 23), (["z-null", "b"], 11)]
    ):
        codes = rng.integers(0, len(dict_vals), n)
        cv = []
        for j, c in enumerate(codes):
            k = dict_vals[c]
            v = None if (k == "z-null" or (ci == 0 and j % 5 == 0)) else float(
                rng.integers(-50, 50)
            )
            keys.append(k)
            vals.append(v)
            cv.append(v)
        kchunks.append(
            pa.DictionaryArray.from_arrays(
                pa.array(codes, pa.int32()), pa.array(dict_vals)
            )
        )
        vchunks.append(pa.array(cv, pa.float64()))
    kcol = pa.chunked_array(kchunks)
    v = pa.chunked_array(vchunks)

    got = _segmented_fold(kcol, v)
    assert got == reference(keys, vals)

    # misaligned value chunking (one flat chunk) must not change results
    flat_v = pa.chunked_array([pa.array(vals, pa.float64())])
    assert _segmented_fold(kcol, flat_v) == got

    # single empty chunk -> empty result
    assert (
        _segmented_fold(
            pa.chunked_array([kchunks[0].slice(0, 0)]),
            pa.chunked_array([pa.array([], pa.float64())]),
        )
        == []
    )

    # non-dictionary key chunk: decline
    assert _segmented_fold(pa.chunked_array([pa.array(["a", "b"])]),
                           pa.chunked_array([pa.array([1.0, 2.0])])) is None

    # genuine NaN payload (distinguished from nulls): decline
    nan_v = pa.chunked_array(
        [pa.array([float("nan")] + [1.0] * (len(kchunks[0]) - 1), pa.float64())]
        + vchunks[1:]
    )
    assert _segmented_fold(kcol, nan_v) is None


def test_same_name_republish_is_seen_without_a_stat(spark, tmp_path):
    """A minor compaction of a lone tx run republishes it under the SAME
    name with new files. The listing hands back a new ``RunInfo`` for
    the new incarnation, so the next reads see the new content, read
    the footers of the new files, and the handle keeps nothing of the
    old run."""
    from pyspark.sql import functions as F

    db = Database(spark, str(tmp_path / "db"), buckets=2)
    db.commit_rows(
        [_u_row(k, T0 + i * NS, i) for k in ("keep", "drop") for i in range(3)]
    )
    (old,) = db.runs()
    assert len(db.get("drop")) == 3  # warm
    assert len(db.get_prefix("")) == 6
    old_name, old_files, old = old.name, old.files, _refs([old])
    db.compact(transform=lambda df: df.filter(F.col("key") != "drop"))
    (new,) = db.runs()
    assert new.name == old_name and new.files and set(new.files).isdisjoint(old_files)
    assert db.get("drop") == []
    assert [r["key"] for r in db.get_prefix("")] == ["keep"] * 3
    assert _all_dead(old)
    (listed,) = db.runs()
    assert listed is new
    assert [fm.path for fm in vars(new)["footers"]] == [
        os.path.join(new.path, f) for f in new.files
    ]


def test_each_read_lists_once(tmp_path, monkeypatch):
    """A warm GET and a warm prefix GET read the run set from ONE
    Database.runs() listing per attempt, checked by one closing
    ``runs()`` (no ``run_names()``), and each listing is flat in the
    number of runs: two root scans, the same number of swap epoch reads
    at 10 runs and at 200, no ``listdir`` and no ``stat`` of anything
    (``DirEntry.stat`` counted too), and no footer or delete-marker
    read. A read after one new commit lists only the new run."""
    import pyarrow.parquet as pq

    db = _local_db(tmp_path)
    calls = {"runs": 0, "run_names": 0, "_swap_epoch": 0, "scandir": 0, "stat": [],
             "listdir": [], "read_metadata": 0, "read_table": 0}
    real_runs, real_names, real_epoch = (
        Database.runs, Database.run_names, Database._swap_epoch
    )
    real_stat, real_listdir, real_scandir = os.stat, os.listdir, os.scandir

    def counted(name, fn):
        def wrapper(*a, **k):
            calls[name] += 1
            return fn(*a, **k)
        return wrapper

    def stat(p, *a, **k):
        calls["stat"].append(os.fspath(p))
        return real_stat(p, *a, **k)

    def listdir(p=".", *a, **k):
        calls["listdir"].append(os.fspath(p))
        return real_listdir(p, *a, **k)

    class Entry:
        """A DirEntry whose stat() is counted."""

        def __init__(self, e):
            self._e = e
            self.name, self.path = e.name, e.path

        def stat(self, *a, **k):
            calls["stat"].append(self.path)
            return self._e.stat(*a, **k)

        def __getattr__(self, attr):
            return getattr(self._e, attr)

    class Scan:
        def __init__(self, p):
            calls["scandir"] += 1
            self._it = real_scandir(p)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._it.close()

        def __iter__(self):
            return (Entry(e) for e in self._it)

    def count(read):
        calls.update(runs=0, run_names=0, _swap_epoch=0, scandir=0, stat=[],
                     listdir=[], read_metadata=0, read_table=0)
        monkeypatch.setattr(Database, "runs", counted("runs", real_runs))
        monkeypatch.setattr(Database, "run_names", counted("run_names", real_names))
        monkeypatch.setattr(Database, "_swap_epoch", counted("_swap_epoch", real_epoch))
        for name in ("read_metadata", "read_table"):  # footer, marker reads
            monkeypatch.setattr(pq, name, counted(name, getattr(pq, name)))
        monkeypatch.setattr(os, "stat", stat)
        monkeypatch.setattr(os, "listdir", listdir)
        monkeypatch.setattr(os, "scandir", Scan)
        try:
            return read()
        finally:
            monkeypatch.undo()

    n = 0
    epoch_reads = set()
    for n_runs in (10, 200):
        while n < n_runs - 3:
            db.commit_rows([_u_row(f"k{n % 5}", T0 + n * NS, n)])
            n += 1
        while n < n_runs:
            db.commit_deletes(
                [{"wildcard": "k1", "after_ns": T0 + n * NS, "before_ns": T0 + n * NS + 1}]
            )
            n += 1
        assert len(db.runs()) == n_runs
        for read in (lambda: db.get("k1"), lambda: db.get_prefix("k", max_groups=n)):
            want = read()  # warm
            assert want
            assert count(read) == want
            assert calls["runs"] == 2 and calls["run_names"] == 0, n_runs
            assert calls["scandir"] == 2, n_runs
            assert calls["listdir"] == [] and calls["stat"] == [], n_runs
            assert calls["read_metadata"] == calls["read_table"] == 0, n_runs
            epoch_reads.add(calls["_swap_epoch"])
    assert epoch_reads == {4}  # two per listing, at 10 runs and at 200

    new = db.commit_rows([_u_row("k1", T0 - NS, -1)])
    count(lambda: db.get("k1"))
    assert calls["listdir"] == [os.path.join(db.path, new)]


def _write_run(db, run, rows, *, unique):
    """Write ``rows`` as a bucketed run directory at ``run``, with the
    ``_U`` marker when ``unique``. Spark-free."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sonnerie_spark.bucketing import (
        bucket_file_name, bucket_of, write_run_buckets, write_run_unique,
    )
    from sonnerie_spark.db import arrow_record_schema

    os.mkdir(run)
    write_run_buckets(run, db.buckets)
    if unique:
        write_run_unique(run)
    by_bucket: dict[int, list[dict]] = {}
    for r in sorted(rows, key=lambda r: (r["key"], r["ts"])):
        by_bucket.setdefault(bucket_of(r["key"], db.buckets), []).append(r)
    nonce = f"{time.time_ns():016x}"
    for b, rs in by_bucket.items():
        pq.write_table(
            pa.Table.from_pylist(rs, schema=arrow_record_schema()),
            os.path.join(run, bucket_file_name(b, nonce)),
        )


def _commit_non_unique(db, rows):
    """Publish ``rows`` as one run WITHOUT the ``_U`` marker, the way a
    ``check_duplicates=False`` commit writes it: duplicate (key, ts)
    rows may share the run. Spark-free; returns the run's name."""
    import os

    from sonnerie_spark.db import RUN_SUBDIR
    from sonnerie_spark.fsutil import OwnedDir

    with OwnedDir(db.path) as owner:
        _write_run(db, os.path.join(owner.path, RUN_SUBDIR), rows, unique=False)
        return db._atomic_rename(owner.path)


def _republish(db, name, rows):
    """Replace run ``name`` with a ``_U`` run of ``rows`` under the SAME
    name through compaction's own swap (``Database._swap``: epoch bump,
    plan, hide, publish, purge) under the compaction lock, without the
    Spark merge: the new run is written as a ``.tmp-compact-*`` dir.
    The freed inode is usually handed to the next republish's run
    directory. Spark-free."""
    import time

    from sonnerie_spark.fsutil import store_lock

    tmp = os.path.join(db.path, f".tmp-compact-{time.time_ns():x}")
    _write_run(db, tmp, rows, unique=True)
    with store_lock(db.path, ".compact"):
        db._swap(tmp, name, [os.path.join(db.path, name)])


def test_read_does_not_wait_for_a_roll_back_rmtree(tmp_path, monkeypatch):
    """Rolling back a dead compactor's swap restores its hidden runs
    and then removes the discarded rewrite, which can take seconds on
    large runs. A read on another thread that lists the database during
    that rmtree gets the restored rows without waiting for it."""
    import shutil
    import threading
    import time

    from sonnerie_spark.db import COMPACT_PLAN
    from sonnerie_spark.fsutil import store_lock

    db = _local_db(tmp_path)
    name = db.commit_rows([_u_row("k", T0, 1)])
    tmp = os.path.join(db.path, f".tmp-compact-{time.time_ns():x}")
    _write_run(db, tmp, [_u_row("k", T0, 2)], unique=True)
    real_rename = os.rename

    def crash_at_publish(src, dst):
        if src == tmp:
            raise OSError("compactor died before its publish")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_at_publish)
    with store_lock(db.path, ".compact"), pytest.raises(OSError):
        db._swap(tmp, name, [os.path.join(db.path, name)])
    monkeypatch.setattr(os, "rename", real_rename)
    assert os.path.exists(os.path.join(db.path, COMPACT_PLAN))
    assert not os.path.exists(os.path.join(db.path, name))  # hidden

    real_rmtree = shutil.rmtree
    started, release = threading.Event(), threading.Event()

    def slow_rmtree(path, *a, **k):
        if path == tmp:
            started.set()
            release.wait(30)
        real_rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", slow_rmtree)
    healer = threading.Thread(target=db._heal_compact_crash)
    healer.start()
    try:
        assert started.wait(30)
        got = []
        reader = threading.Thread(target=lambda: got.append(db.get("k")))
        reader.start()
        reader.join(timeout=10)
        assert not reader.is_alive(), "the read waited for the rmtree"
        assert got == [[_u_row("k", T0, 1)]]
    finally:
        release.set()
        healer.join(timeout=30)
    assert not os.path.exists(tmp)
    assert not os.path.exists(os.path.join(db.path, COMPACT_PLAN))


def _hide_once(db, path):
    """Make ``db``'s next ``runs()`` list while the run at ``path`` is
    hidden as ``.tmp-old-*``, and rename it back right after: a listing
    taken inside the hide window of a compaction that republishes the
    run under its own name. Later listings are left alone."""
    real = db.runs

    def runs():
        del db.runs  # once only
        hidden = os.path.join(db.path, ".tmp-old-hidden")
        os.rename(path, hidden)
        try:
            return real()
        finally:
            os.rename(hidden, path)

    db.runs = runs


def test_read_inside_a_republish_hide_window_retries(tmp_path, monkeypatch):
    """A lone run republished under its own name is hidden for a moment,
    so a listing taken then lists no run, while the run names before
    and after it are the same. A read whose first listing falls in that
    window must see the closing listing differ and retry: ``get``,
    ``get_many`` and ``get_prefix`` each return the row."""
    db = _local_db(tmp_path)
    name = db.commit_rows([_u_row("k", T0, 1)])
    row = _u_row("k", T0, 1)
    listings = []
    real = Database.runs

    def counted(self):
        listings.append(None)
        return real(self)

    monkeypatch.setattr(Database, "runs", counted)
    for read, want in (
        (lambda: db.get("k"), [row]),
        (lambda: db.get_many(["k"]), {"k": [row]}),
        (lambda: db.get_prefix("k"), [row]),
    ):
        assert read() == want  # warm
        del listings[:]
        _hide_once(db, os.path.join(db.path, name))
        assert read() == want
        assert "runs" not in vars(db)  # the hide ran
        assert len(listings) == 4  # a lost attempt, then one that holds


def _bump_after_once(db):
    """Make ``db``'s next ``runs()`` bump the swap epoch right after it
    lists, as a compaction swap that starts during a read's attempt
    does before it renames anything. Later listings are left alone."""
    import time

    from sonnerie_spark.db import SWAP_EPOCH

    real = db.runs

    def runs():
        del db.runs  # once only
        try:
            return real()
        finally:
            db._write_json(SWAP_EPOCH, f".tmp-compact-{time.time_ns():x}")

    db.runs = runs


def test_read_across_a_swap_epoch_bump_retries(tmp_path, monkeypatch):
    """A swap epoch bump after a read's opening listing empties the
    listing cache: the closing listing names the same runs through new
    ``RunInfo`` objects, so the read loses exactly one attempt and then
    returns the right rows. ``get``, ``get_many`` and ``get_prefix``
    each, over data runs and a delete run."""
    db = _local_db(tmp_path)
    db.commit_rows([_u_row("k", T0, 1), _u_row("j", T0, 2)])
    db.commit_deletes([{"wildcard": "j"}])
    db.commit_rows([_u_row("k", T0 + 1, 3)])
    rows = [_u_row("k", T0, 1), _u_row("k", T0 + 1, 3)]
    listings = []
    real = Database.runs

    def recorded(self):
        listings.append(real(self))
        return listings[-1]

    monkeypatch.setattr(Database, "runs", recorded)
    for read, want in (
        (lambda: db.get("k"), rows),
        (lambda: db.get_many(["k", "j"]), {"k": rows, "j": []}),
        (lambda: db.get_prefix(""), rows),
    ):
        assert read() == want  # warm
        del listings[:]
        _bump_after_once(db)
        assert read() == want
        assert "runs" not in vars(db)  # the bump ran
        assert len(listings) == 4  # a lost attempt, then one that holds
        opening, closing, *held = listings
        assert [r.name for r in closing] == [r.name for r in opening]
        assert len(opening) == 3 and all(a is not b for a, b in zip(opening, closing))
        assert all(a is b for a, b in zip(*held))


def test_warm_stats_reads_no_footer(tmp_path, monkeypatch):
    """``stats()`` takes row counts from each run's cached footers and
    marker counts from its cached markers: the numbers equal a direct
    read of every footer, and a warm call opens no footer and parses no
    marker file."""
    import pyarrow.parquet as pq

    db = _local_db(tmp_path)
    db.commit_rows([_u_row(k, T0 + i, i) for k in ("a", "b", "c") for i in range(4)])
    db.commit_rows([_u_row("a", T0, 9)])
    db.commit_deletes([{"wildcard": "b"}, {"wildcard": "c", "before_ns": T0 + 2}])
    db.commit_deletes([{"wildcard": "a"}])
    data = [r for r in db.runs() if not r.is_delete]
    want = {
        "runs": [
            {"name": r.name, "files": len(r.files),
             "rows": sum(pq.read_metadata(os.path.join(r.path, f)).num_rows
                         for f in r.files),
             "bytes": sum(os.stat(os.path.join(r.path, f)).st_size for f in r.files)}
            for r in data
        ],
        "n_runs": 2, "total_rows": 13, "delete_markers": 3, "buckets": 2,
    }
    want["total_bytes"] = sum(r["bytes"] for r in want["runs"])
    assert db.stats() == want  # cold
    opened = []
    for name in ("read_metadata", "read_table", "ParquetFile"):
        def spy(*a, _name=name, _real=getattr(pq, name), **kw):
            opened.append(_name)
            return _real(*a, **kw)
        monkeypatch.setattr(pq, name, spy)
    assert db.stats() == want  # warm
    assert opened == []


def test_republish_under_a_reused_inode_is_seen(tmp_path):
    """Two same-name republishes with no read between them usually
    leave the name on the inode the handle cached (the first republish
    frees it, the second's mkdir gets it back), over new files. The
    listing must still classify the run again: a stale footer that says
    "key c is not in this run" would open no file and drop rows. The
    rounds repeat until the listed inode equals the cached one."""
    import os

    db = _local_db(tmp_path)
    name = db.commit_rows([_u_row(k, T0 + i, 0) for k in ("a", "b") for i in range(3)])
    model = {(k, T0 + i): _u_row(k, T0 + i, 0) for k in ("a", "b") for i in range(3)}

    def check():
        for k in ("a", "b", "c"):
            assert db.get(k) == [model[kt] for kt in sorted(model) if kt[0] == k], k
        assert db.get_prefix("") == [model[kt] for kt in sorted(model)]

    reused = False
    for rnd in range(1, 21):
        check()  # warms the listing and the reader's caches
        (cached_ino,) = [ino for n, ino in db._runs_cache[1] if n == name]
        for v in (2 * rnd, 2 * rnd + 1):
            keys = ("a", "c") if v % 2 else ("b", "c")  # c: new to the run
            rows = [_u_row(k, T0 + i, v) for k in keys for i in range(v % 3 + 1)]
            _republish(db, name, rows)
            model = {(r["key"], r["ts"]): r for r in rows}
        reused = os.stat(os.path.join(db.path, name)).st_ino == cached_ino
        check()
        if reused:
            break
    if not reused:
        pytest.skip("the filesystem reused no freed inode in 20 rounds")


def test_compaction_republishes_are_seen_without_a_read_between(spark, tmp_path):
    """Two lone-run minor compactions (each republishes the tx name),
    then two major compactions of a ``main``-only database (each
    republishes ``main``), with no read in between: ``get``,
    ``get_prefix`` and ``read()`` see the last content."""
    from pyspark.sql import functions as F

    from sonnerie_spark.db import RECORD_SCHEMA

    db = Database(spark, str(tmp_path / "db"), buckets=2)
    db.commit_rows([_u_row(k, T0 + i, 0) for k in ("a", "b") for i in range(3)])

    def rewrite(v, add):
        def transform(df):
            kept = df.filter(F.col("key") == "a").withColumn(
                "v_long", F.array(F.lit(v).cast("long"))
            )
            new = spark.createDataFrame([_u_row(add, T0, v)], RECORD_SCHEMA)
            return kept.select(*RECORD_SCHEMA.fieldNames()).unionByName(new)
        return transform

    def check(want):
        assert db.get("a") == [_u_row("a", T0 + i, want[0]) for i in range(3)]
        assert db.get("b") == []
        assert db.get(want[1]) == [_u_row(want[1], T0, want[0])]
        rows = db.get_prefix("")
        assert rows == sorted(
            [_u_row("a", T0 + i, want[0]) for i in range(3)]
            + [_u_row(want[1], T0, want[0])],
            key=lambda r: (r["key"], r["ts"]),
        )
        got = [
            {f: r[f] for f in RECORD_SCHEMA.fieldNames()}
            for r in db.read_sorted().collect()
        ]
        assert got == rows

    (run,) = db.runs()
    assert len(db.get("a")) == 3 and len(db.get_prefix("")) == 6  # warm
    for v, add in ((1, "c"), (2, "d")):
        assert db.compact(transform=rewrite(v, add)) == run.name
    check((2, "d"))
    db.compact(major=True)
    check((2, "d"))  # warm on main
    for v, add in ((3, "e"), (4, "f")):
        assert db.compact(major=True, transform=rewrite(v, add)) == "main"
    check((4, "f"))


def test_non_unique_run_duplicates_against_other_runs(tmp_path):
    """A same-run duplicate of a run without ``_U`` resolves to its
    payload-max row (the Spark plan's ``max(struct(payload))``), and
    that row loses to a later run and beats an earlier one."""
    db = _local_db(tmp_path)
    db.commit_rows([_u_row("a", 1, 10), _u_row("b", 1, 10)])
    _commit_non_unique(db, [_u_row("a", 1, 5), _u_row("a", 1, 7), _u_row("a", 1, 6),
                            _u_row("b", 1, 3), _u_row("b", 1, 9), _u_row("b", 2, 1)])
    db.commit_rows([_u_row("b", 1, 0)])
    # a: the non-_U run overwrites the earlier run with its max payload
    assert db.get("a") == [_u_row("a", 1, 7)]
    # b@1: the later run overwrites the non-_U run's duplicate
    assert db.get("b") == [_u_row("b", 1, 0), _u_row("b", 2, 1)]
    assert db.get_prefix("") == [_u_row("a", 1, 7), _u_row("b", 1, 0), _u_row("b", 2, 1)]


_MODEL_KEYS = ["a", "a b", "ab", "b", "b%c", "bc"]
_MODEL_WINDOWS = [(None, None), (2, None), (None, 4), (1, 3)]


def _model_like(pattern: str, key: str) -> bool:
    import re

    rx = ".*".join(re.escape(p) for p in pattern.split("%"))
    return re.fullmatch(rx, key, re.DOTALL) is not None


try:
    from hypothesis import given, settings, strategies as st

    _row_st = st.builds(
        _u_row, st.sampled_from(_MODEL_KEYS), st.integers(0, 5), st.integers(0, 9)
    )
    _unique_rows = st.lists(_row_st, min_size=1, max_size=8, unique_by=lambda r: (r["key"], r["ts"]))
    _ops = st.one_of(
        st.tuples(st.just("rows"), _unique_rows),
        st.tuples(st.just("strict"), _unique_rows, st.integers(1, 4)),
        st.tuples(st.just("unsorted"), _unique_rows, st.integers(1, 4)),
        st.tuples(st.just("non_unique"), st.lists(_row_st, min_size=1, max_size=8)),
        st.tuples(st.just("delete"), st.fixed_dictionaries({
            "first_key": st.sampled_from(["", "a b", "ab", "b"]),
            "last_key": st.sampled_from(["", "ab", "b", "bc"]),
            "after_ns": st.sampled_from([0, 1, 2, 4]),
            "before_ns": st.sampled_from([2, 3, 5, 2**63 - 1]),
            "wildcard": st.sampled_from(["%", "a%", "b", "%c", "a b"]),
        })),
        st.tuples(st.just("rewrite"), _unique_rows, st.integers(0, 6)),
        st.tuples(st.just("hide"), st.integers(0, 6)),
    )

    @given(st.lists(_ops, min_size=1, max_size=7))
    @settings(max_examples=60, deadline=None, derandomize=True)
    def test_point_reads_match_lww_model(history):
        """After every step of a random history of commits (commit_rows,
        strict and unsorted Transactions that spill, runs without
        ``_U`` holding same-run duplicates), delete markers (key
        bounds, wildcards, ts windows), same-name republishes of a
        data run with new content (compaction's swap) and reads whose
        first listing falls inside a run's hide window, ``get``,
        ``get_many`` and ``get_prefix``, with and without a ts window,
        equal a pure-Python model: a dict of the live (key, ts) records,
        folded from the runs in commit order — every data run
        overwrites, every marker prunes what is older. Each republish
        swaps the run twice, so the handle that reads after every step
        still sees two republishes of one name between two reads. A
        second handle reads only after the first step and at the end,
        so it sees several. Spark-free."""
        import tempfile

        from sonnerie_spark.db import Transaction

        log: list[list] = []  # [run name, marker or None, rows], commit order

        def hidden(m, key, ts):
            return ((not m["first_key"] or key >= m["first_key"])
                    and (not m["last_key"] or key < m["last_key"])
                    and m["after_ns"] <= ts < m["before_ns"]
                    and _model_like(m["wildcard"], key))

        def fold():
            model: dict[tuple[str, int], dict] = {}
            for _name, marker, rows in log:
                if marker is not None:
                    for key, ts in [kt for kt in model if hidden(marker, *kt)]:
                        del model[key, ts]
                for r in rows:
                    model[r["key"], r["ts"]] = r
            return model

        def check(db, model):
            def rows_of(pred, lo, hi):
                return [
                    model[kt] for kt in sorted(model)
                    if pred(kt[0]) and (lo is None or kt[1] >= lo)
                    and (hi is None or kt[1] < hi)
                ]

            for lo, hi in _MODEL_WINDOWS:
                w = dict(after_ns=lo, before_ns=hi)
                for k in _MODEL_KEYS:
                    assert db.get(k, **w) == rows_of(k.__eq__, lo, hi), (k, w)
                assert db.get_many(["b", "zz", "a b"], **w) == {
                    k: rows_of(k.__eq__, lo, hi) for k in ["b", "zz", "a b"]
                }
                for p in ["", "a", "b"]:
                    assert db.get_prefix(p, **w) == rows_of(
                        lambda k: k.startswith(p), lo, hi
                    ), (p, w)

        with tempfile.TemporaryDirectory() as d:
            db = Database(None, d, buckets=2, durable=False)
            late = Database(None, d, buckets=2, durable=False)
            for step, op in enumerate(history):
                kind, arg = op[0], op[1]
                marker = None
                if kind == "rows":
                    name = db.commit_rows([dict(r) for r in arg])
                elif kind in ("strict", "unsorted"):
                    strict = kind == "strict"
                    tx = Transaction(db, strict_order=strict, spill_threshold=op[2])
                    order = (lambda r: (r["key"], r["ts"])) if strict else (
                        lambda r: (r["ts"], r["key"]))  # keys interleaved
                    for r in sorted(arg, key=order):
                        tx.add_record(r["key"], r["ts"], "u", r["v_long"])
                    name = tx.commit()
                elif kind == "non_unique":
                    name = _commit_non_unique(db, arg)
                    arg = sorted(arg, key=lambda r: r["v_long"])  # max payload last
                elif kind == "rewrite":
                    name = None
                    data = [e for e in log if e[1] is None]
                    if data:
                        entry = data[op[2] % len(data)]
                        # twice, as two compactions between two reads
                        # would: the second usually gets the inode the
                        # handles cached back
                        _republish(db, entry[0], arg[:1])
                        _republish(db, entry[0], arg)
                        entry[2] = arg
                elif kind == "hide":
                    name = None
                    listed = db.runs()
                    if listed:
                        # the first read of the check below lists inside
                        # the window
                        _hide_once(db, listed[arg % len(listed)].path)
                else:
                    name = db.commit_deletes([arg])
                    marker, arg = arg, []
                if name is not None:
                    log.append([name, marker, arg])
                model = fold()
                check(db, model)
                assert "runs" not in vars(db)  # any armed hide ran
                if step == 0:
                    check(late, model)
            check(late, model)
except ImportError:  # pragma: no cover - hypothesis is in the image
    pass
