"""Point-read fast path: must be indistinguishable from the Spark plan.

Metamorphic suite in the reference's style (parallel-vs-serial
equivalence, tests.rs:726-785): db.get(key) vs db.read(key=...) on a DB
with multiple runs, LWW overwrites, delete markers, and compaction.
"""

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


def test_footer_cache_evicts_replaced_runs(db):
    """Footer-cache entries for compacted-away runs must be EVICTED on
    the next read: a replaced run's path is never looked up again, so a
    long-lived serve process would otherwise grow its memory by one
    entry for every replaced transaction."""
    _seed(db)
    db.get("beta")  # warm: one footer entry per data run
    pr = db._point_reader
    n_runs = len(db.data_runs())
    assert len(pr._footers) == n_runs > 1
    old_paths = set(pr._footers)
    db.compact(major=True)
    db.get("beta")  # post-compaction read reconciles the cache
    assert set(pr._footers).isdisjoint(old_paths)
    assert len(pr._footers) == len(db.data_runs()) == 1
    # prefix fast path reconciles too
    db.commit_rows(
        [{"key": "beta", "ts": 999, "fmt": "u", "v_long": [1],
          "v_double": [], "v_str": [], "v_bin": []}]
    )
    db.get_prefix("bet")
    db.compact(major=True)
    db.get_prefix("bet")
    assert len(pr._footers) == 1


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
    parsed = []  # marker runs parsed per delete_markers call
    real = Database.delete_markers

    def counting(self, runs=None):
        parsed.append(sum(r.is_delete for r in (runs or self.runs())))
        return real(self, runs)

    monkeypatch.setattr(Database, "delete_markers", counting)
    for _ in range(5):
        assert [r["ts"] for r in db.get("k")] == [T0 + i * NS for i in range(k, 10)]
    assert sum(parsed) == k  # not 5 * k


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
    """Serve handlers share one PointReader without a lock. Readers on
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


def test_point_read_outlasts_a_commit_streak(tmp_path, monkeypatch):
    """Every commit that lands inside a point-read attempt fails the
    attempt's closing run-set probe. A writer committing back-to-back
    (a PUT streak on another serve connection) must delay the read, not
    fail it, and the answer is the state after the streak."""
    db = _local_db(tmp_path)
    db.commit_rows([_u_row("k", T0 + i * NS, i) for i in range(3)])
    db.get("k")  # warm the footer cache
    streak = 10
    probes = []
    real = Database.run_names

    def racing(self):
        probes.append(None)
        # even calls are an attempt's closing probe: a commit beats it
        if len(probes) % 2 == 0 and len(probes) <= 2 * streak:
            self.commit_rows([_u_row("k", T0 + (100 + len(probes)) * NS, 7)])
        return real(self)

    monkeypatch.setattr(Database, "run_names", racing)
    rows = db.get("k")
    assert len(probes) == 2 * (streak + 1)  # streak lost attempts + 1
    assert [r["v_long"][0] for r in rows] == [0, 1, 2] + [7] * streak


def test_marker_cache_evicts_markers_purged_by_compaction(db):
    _seed(db)
    before = {k: _norm(_point_rows(db, k)) for k in ("alpha", "zeta")}
    pr = db._point_reader
    marker_paths = {r.path for r in db.runs() if r.is_delete}
    assert set(pr._markers) == marker_paths != set()
    db.compact(major=True)  # purges the marker run from disk
    assert not any(r.is_delete for r in db.runs())
    after = {k: _norm(_point_rows(db, k)) for k in ("alpha", "zeta")}
    assert pr._markers == {}
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

    pr = db._point_reader
    fm = pr._run_footers(db.data_runs()[0]).files[0]
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
