"""Storage-layer tests: run commit, LWW merge, deletes, compaction.

Fixture shapes follow FIXTURES.md (F1 single_u32, F7 heterogeneous,
F8 lww_overlap, F9 delete semantics, F10 unsorted ingest).
"""

import os

import pytest
from pyspark.sql import functions as F

from sonnerie_spark.db import CommitError, Database, DuplicateRecordError

NS_DAY = 86400 * 10**9
T0 = 1577836800 * 10**9  # 2020-01-01


@pytest.fixture()
def db(spark, tmp_path):
    return Database(spark, str(tmp_path / "db"))


def _fib_tx(db):
    tx = db.create_tx()
    fib = [1, 1, 2, 3, 5, 8]
    for i, v in enumerate(fib):
        tx.add_record("fibonacci", T0 + i * NS_DAY, "u", [v])
    return tx


def test_roundtrip_f1(db):
    tx = _fib_tx(db)
    tx.add_record("other", T0, "u", [99])
    tx.commit()
    rows = db.read_sorted(wildcard="fib%").collect()
    assert [r.key for r in rows] == ["fibonacci"] * 6
    assert [r.v_long[0] for r in rows] == [1, 1, 2, 3, 5, 8]
    assert rows[0].ts == T0


def test_exact_and_range_and_time_filters(db):
    tx = db.create_tx()
    for k in ["aa", "ab", "ba", "bb"]:
        for i in range(3):
            tx.add_record(k, T0 + i, "u", [i])
    tx.commit()
    assert db.read(key="ab").count() == 3
    assert db.read(after_key="ab", before_key="bb").count() == 6  # ab, ba
    assert db.read(wildcard="a%").count() == 6
    assert db.read(after_ns=T0 + 1).count() == 8
    assert db.read(before_ns=T0 + 1).count() == 4
    assert db.read(key="ab", after_ns=T0 + 1, before_ns=T0 + 2).count() == 1


def test_wildcard_with_suffix(db):
    tx = db.create_tx()
    for k in ["pre_a_suf", "pre_b_suf", "pre_c_x"]:
        tx.add_record(k, T0, "u", [1])
    tx.commit()
    assert db.read(wildcard="pre%suf").count() == 2
    assert db.read(wildcard="pre_c_x").count() == 1  # exact (no %)


def test_wildcard_underscore_is_literal(db):
    """The reference treats only '%' as special (wildcard.rs); '_' must
    not act as Spark LIKE's single-char wildcard in reads or deletes."""
    tx = db.create_tx()
    for k in ["user_1", "userX1", "user_2", "u_"]:
        tx.add_record(k, T0, "u", [1])
    tx.commit()
    assert {r.key for r in db.read(wildcard="user_%").collect()} == {"user_1", "user_2"}
    assert {r.key for r in db.read(wildcard="u_%").collect()} == {"u_"}
    # delete with '_' in the wildcard must not over-delete userX1
    db.commit_deletes([{"wildcard": "user_%"}])
    assert {r.key for r in db.read().collect()} == {"userX1", "u_"}


def test_time_order_violation(db):
    tx = db.create_tx()
    tx.add_record("k", T0 + 1, "u", [1])
    with pytest.raises(CommitError):
        tx.add_record("k", T0, "u", [2])
    with pytest.raises(CommitError):
        tx.add_record("k", T0 + 1, "u", [3])  # equal ts within tx = error


def test_duplicate_check_dataframe(db, spark):
    df = spark.createDataFrame(
        [("k", 1, "u", [1], [], [], []), ("k", 1, "u", [2], [], [], [])],
        "key string, ts long, fmt string, v_long array<long>, v_double array<double>, v_str array<string>, v_bin array<binary>",
    )
    with pytest.raises(DuplicateRecordError):
        db.commit_dataframe(df)


def test_lww_overlap_f8(db):
    tx1 = db.create_tx()
    tx1.add_record("a", 0, "U", [1])
    tx1.add_record("c", 0, "U", [10])
    tx1.commit()
    tx2 = db.create_tx()
    tx2.add_record("a", 0, "U", [2])  # same (key, ts) -> tx2 wins
    tx2.add_record("b", 0, "U", [20])
    tx2.commit()
    rows = {r.key: r.v_long[0] for r in db.read().collect()}
    assert rows == {"a": 2, "b": 20, "c": 10}
    assert db.read().count() == 3


def test_heterogeneous_formats_f7(db):
    tx = db.create_tx()
    tx.add_record("a", 1, "u", [42])
    tx.add_record("a", 2, "u", [84])
    tx.add_record("a", 3, "f", [32.5])
    tx.add_record("a", 4, "s", ["Hello"])
    tx.commit()
    rows = db.read_sorted(key="a").collect()
    assert [r.fmt for r in rows] == ["u", "u", "f", "s"]
    assert rows[2].v_double[0] == 32.5
    assert rows[3].v_str[0] == "Hello"


def test_delete_markers_f9(db):
    tx = db.create_tx()
    for k in ["aa", "ab", "ba"]:
        for i in range(4):
            tx.add_record(k, T0 + i, "u", [i])
    tx.commit()
    # delete key range [aa, ba), time range [T0+1, T0+3)
    db.commit_deletes(
        [{"first_key": "aa", "last_key": "ba", "after_ns": T0 + 1, "before_ns": T0 + 3}]
    )
    rows = db.read_sorted().collect()
    surviving = [(r.key, r.ts - T0) for r in rows]
    assert surviving == [
        ("aa", 0), ("aa", 3),
        ("ab", 0), ("ab", 3),
        ("ba", 0), ("ba", 1), ("ba", 2), ("ba", 3),
    ]


def test_delete_wildcard_and_txid_scoping(db):
    tx = db.create_tx()
    tx.add_record("xa", 0, "u", [1])
    tx.add_record("ya", 0, "u", [2])
    tx.commit()
    db.commit_deletes([{"wildcard": "x%"}])  # deletes xa (earlier tx only)
    # a later write of the same key survives the earlier delete
    tx2 = db.create_tx()
    tx2.add_record("xa", 0, "u", [3])
    tx2.commit()
    rows = {r.key: r.v_long[0] for r in db.read().collect()}
    assert rows == {"xa": 3, "ya": 2}


def test_delete_all(db):
    tx = db.create_tx()
    for i in range(10):
        tx.add_record("k", i, "u", [i])
    tx.commit()
    db.commit_deletes([{}])  # unbounded everything
    assert db.read().count() == 0


def test_compact_major(db):
    for batch in range(3):
        tx = db.create_tx()
        tx.add_record("k", batch, "u", [batch])
        tx.add_record("k", 100 + batch, "u", [batch])
        tx.commit()
    db.commit_deletes([{"after_ns": 100, "before_ns": 200}])
    before = sorted((r.ts, r.v_long[0]) for r in db.read().collect())
    db.compact(major=True)
    runs = db.runs()
    assert [r.name for r in runs] == ["main"]
    after = sorted((r.ts, r.v_long[0]) for r in db.read().collect())
    assert after == before == [(0, 0), (1, 1), (2, 2)]


def test_compact_minor_keeps_main_and_markers(db):
    # seed main via major compact
    tx = db.create_tx()
    tx.add_record("base", 0, "u", [0])
    tx.commit()
    db.compact(major=True)
    for batch in range(3):
        tx = db.create_tx()
        tx.add_record("k", batch, "u", [batch])
        tx.commit()
    before = sorted((r.key, r.ts) for r in db.read().collect())
    db.compact(major=False)
    names = [r.name for r in db.runs()]
    assert names[0] == "main" and len(names) == 2
    after = sorted((r.key, r.ts) for r in db.read().collect())
    assert after == before


def test_minor_compact_does_not_resurrect_main_deletes(db):
    """A delete marker targeting records in `main` must survive minor
    compaction — purging it after applying it only to the tx subset
    would resurrect the deleted `main` records (the reference purges
    delete txes on major compaction only, lib.rs _purge_compacted_files)."""
    tx = db.create_tx()
    tx.add_record("victim", 0, "u", [1])
    tx.add_record("keeper", 0, "u", [2])
    tx.commit()
    db.compact(major=True)  # victim+keeper now live in `main`
    db.commit_deletes([{"wildcard": "victim%"}])
    tx2 = db.create_tx()
    tx2.add_record("newer", 0, "u", [3])
    tx2.commit()
    tx3 = db.create_tx()
    tx3.add_record("newer2", 0, "u", [4])
    tx3.commit()
    assert {r.key for r in db.read().collect()} == {"keeper", "newer", "newer2"}
    db.compact(major=False)
    # marker run must still be on disk and still suppress `main`'s victim
    assert any(r.is_delete for r in db.runs())
    assert {r.key for r in db.read().collect()} == {"keeper", "newer", "newer2"}
    # major compaction bakes the delete in and purges the marker
    db.compact(major=True)
    assert not any(r.is_delete for r in db.runs())
    assert {r.key for r in db.read().collect()} == {"keeper", "newer", "newer2"}


def test_minor_compact_marker_older_than_merged_name(db):
    """Marker older than the newest merged tx: merged records take the
    newest name, so the marker must be applied during the merge (baked
    in) or older-run records would escape it after renaming."""
    tx = db.create_tx()
    tx.add_record("old", 0, "u", [1])
    tx.commit()
    db.commit_deletes([{"wildcard": "old%"}])
    tx2 = db.create_tx()
    tx2.add_record("new", 0, "u", [2])
    tx2.commit()
    assert {r.key for r in db.read().collect()} == {"new"}
    db.compact(major=False)
    assert {r.key for r in db.read().collect()} == {"new"}


def test_compact_loops_until_one_run(db):
    """5 runs with max_runs=2 must still converge to a single data run
    (reference loops compaction batches, main.rs:407-499)."""
    for batch in range(5):
        tx = db.create_tx()
        tx.add_record("k", batch, "u", [batch])
        tx.commit()
    before = sorted((r.ts, r.v_long[0]) for r in db.read().collect())
    db.compact(major=False, max_runs=2)
    assert len(db.data_runs()) == 1
    assert sorted((r.ts, r.v_long[0]) for r in db.read().collect()) == before
    db.compact(major=True, max_runs=2)
    assert [r.name for r in db.runs()] == ["main"]
    assert sorted((r.ts, r.v_long[0]) for r in db.read().collect()) == before


def test_compact_transform_gegnum(db):
    tx = db.create_tx()
    tx.add_record("good", 0, "u", [1])
    tx.add_record("bad", 0, "u", [2])
    tx.commit()
    db.compact(major=True, transform=lambda df: df.filter(~F.col("key").startswith("bad")))
    assert [r.key for r in db.read().collect()] == ["good"]


def test_unsorted_dataframe_ingest_f10(db, spark):
    import random

    rows = [("k%02d" % (i % 7), 1000 - i, "u", [i], [], [], []) for i in range(100)]
    random.Random(42).shuffle(rows)
    df = spark.createDataFrame(
        rows,
        "key string, ts long, fmt string, v_long array<long>, v_double array<double>, v_str array<string>, v_bin array<binary>",
    )
    db.commit_dataframe(df)
    assert db.read().count() == 100
    got = db.read_sorted(key="k00").collect()
    assert [r.ts for r in got] == sorted(r.ts for r in got)


def test_run_files_bucketed_and_sorted_by_key(db, spark):
    """Run layout invariant (bucketing.py): every file carries a bucket
    id < B in its name, holds exactly the keys that hash to that bucket
    (Spark's pmod(murmur3, B)), and is (key, ts)-sorted inside so
    parquet row-group stats stay tight."""
    from sonnerie_spark.bucketing import bucket_of, parse_bucket_id

    tx = db.create_tx()
    for i in range(1000):
        tx.add_record(f"key{i:04d}", 0, "u", [i])
    tx.commit()
    run = db.data_runs()[0]
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(run.path, f) for f in os.listdir(run.path) if f.endswith(".parquet")
    )
    seen_buckets = set()
    for f in files:
        b = parse_bucket_id(os.path.basename(f))
        assert b is not None and 0 <= b < db.buckets, f
        seen_buckets.add(b)
        ks = pq.read_table(f, columns=["key"]).column("key").to_pylist()
        assert ks == sorted(ks)  # sorted within file
        assert all(bucket_of(k, db.buckets) == b for k in ks)  # hash-disjoint
    assert len(seen_buckets) > 1  # 1000 keys spread over several buckets


def test_stale_tmp_dirs_ignored_and_purged(spark, tmp_path):
    import os
    import time as _time

    db = Database(spark, str(tmp_path / "db"))
    tx = db.create_tx()
    tx.add_record("k", 1000, "u", [1])
    tx.commit()

    # crash debris: an old in-flight write and a fresh one
    stale = os.path.join(db.path, ".tmp-999-deadbeef")
    fresh = os.path.join(db.path, ".tmp-1000-cafe")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = _time.time() - 7200
    os.utime(stale, (old, old))

    # readers never see tmp dirs
    assert all(not r.name.startswith(".tmp") for r in db.runs())
    assert db.read().count() == 1

    db.compact(major=True)
    assert not os.path.exists(stale), "hour-old tmp debris must be purged"
    assert os.path.exists(fresh), "recent tmp may belong to a live writer"


def test_concurrent_commits_both_land(spark, tmp_path):
    import threading

    db = Database(spark, str(tmp_path / "db"))
    errs = []

    def commit(base):
        try:
            tx = db.create_tx()
            for i in range(5):
                tx.add_record(f"key{base+i:03d}", 1000 + i, "u", [base + i])
            tx.commit()
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(b,)) for b in (0, 100)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert len(db.data_runs()) == 2
    assert db.read().count() == 10


def test_create_view_sql(spark, tmp_path):
    db = Database(spark, str(tmp_path / "db"))
    tx = db.create_tx()
    for i in range(5):
        tx.add_record("s", 1000 + i, "u", [i * 10])
    tx.commit()
    db.create_view("ts_view")
    got = spark.sql(
        "SELECT key, sum(element_at(v_long, 1)) AS total FROM ts_view GROUP BY key"
    ).collect()
    assert [(r.key, r.total) for r in got] == [("s", 100)]


def test_keys_only_reader(spark, tmp_path):
    """keys() = reference get_filter_keys/get_range_keys: distinct
    surviving keys; skips the LWW aggregation (plan-asserted) and must
    agree with the full read under overwrites and deletes."""
    db = Database(spark, str(tmp_path / "db"))
    tx = db.create_tx()
    for k in ["a", "b", "gone"]:
        for i in range(3):
            tx.add_record(k, 1000 + i, "u", [i])
    tx.commit()
    tx2 = db.create_tx()  # overwrite must not duplicate keys
    tx2.add_record("a", 1001, "u", [99])
    tx2.commit()
    db.commit_deletes([{"wildcard": "gone"}])

    got = [r.key for r in db.keys().collect()]
    assert got == ["a", "b"]
    assert [r.key for r in db.keys(wildcard="a%").collect()] == ["a"]
    # plan: no value columns read, no max_by dedup aggregate
    plan = db.keys()._sc._jvm.PythonSQLUtils.explainString(
        db.keys()._jdf.queryExecution(), "formatted"
    )
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "v_long" not in read_schema and "v_str" not in read_schema, read_schema
    assert "max_by" not in plan, plan


def test_strict_tx_spills_with_bounded_memory(spark, tmp_path):
    """A strict-order transaction over the spill threshold streams to
    per-bucket parquet writers: the buffer never exceeds the threshold,
    the result is ONE normal bucketed run (point reads, bucketed
    multi-run reads, and LWW all work), and ordering violations are
    still caught mid-stream."""
    from sonnerie_spark.db import CommitError, Database, Transaction

    db = Database(spark, str(tmp_path / "db"))
    tx = Transaction(db, strict_order=True, spill_threshold=100)
    n = 0
    for k in range(20):
        for t in range(30):
            tx.add_record(f"key{k:03d}", 1000 + t, "u", [k * 100 + t])
            n += 1
            assert len(tx.rows) <= 100  # bounded buffer
    txname = tx.commit()
    assert txname is not None
    assert db.read().count() == n
    # the spilled run participates in the bucketed layout like any other
    rows = db.get("key007")
    assert [r["v_long"][0] for r in rows] == [700 + t for t in range(30)]
    tx2 = db.create_tx()
    tx2.add_record("key007", 1000, "u", [-1])  # LWW overwrite across runs
    tx2.commit()
    assert db.get("key007")[0]["v_long"][0] == -1
    # mid-stream ordering violation still raises
    tx3 = Transaction(db, strict_order=True, spill_threshold=10)
    for i in range(15):
        tx3.add_record("a", i, "u", [i])
    with pytest.raises(CommitError, match="time ordering"):
        tx3.add_record("a", 5, "u", [0])


def test_failed_spill_aborts_the_transaction(tmp_path, monkeypatch):
    """A write error mid-spill (here the second bucket file's append)
    leaves some buffered rows on disk and some not. Retrying them would
    publish a duplicate inside a run marked ``_U``, whose single-run
    reads skip the LWW dedup — so the error aborts the transaction: no
    run and no tmp dir remain, and every later add or commit raises."""
    import pyarrow.parquet as pq

    from sonnerie_spark.db import Transaction

    db = Database(None, str(tmp_path / "db"), buckets=4)
    real = pq.ParquetWriter.write_table
    calls = []

    def flaky(self, *a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise OSError(28, "No space left on device")
        return real(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetWriter, "write_table", flaky)
    tx = Transaction(db, strict_order=True, spill_threshold=8)
    for i in range(7):
        tx.add_record(f"k{i}", T0, "u", [i])
    with pytest.raises(OSError, match="No space"):
        tx.add_record("k7", T0, "u", [7])  # the 8th row spills
    with pytest.raises(CommitError, match="aborted"):
        tx.add_record("k8", T0, "u", [8])
    with pytest.raises(CommitError, match="aborted"):
        tx.commit()
    assert db.runs() == []
    assert not [n for n in os.listdir(db.path) if n.startswith(".tmp-")]


def test_every_spark_free_entry_point_writes_the_same_run(tmp_path):
    """A spilling strict Transaction, a non-strict Transaction fed out of
    order, ``add_line`` and ``commit_rows`` all go through the one
    Spark-free writer: the same records give the same bucket files,
    row for row, and the same ``_B``/``_U`` markers."""
    import random

    import pyarrow.parquet as pq

    from sonnerie_spark import rowformat
    from sonnerie_spark.bucketing import parse_bucket_id
    from sonnerie_spark.db import Transaction

    lines = [
        f"key\\ {k:02d} {T0 + t} iUfFsB {k - 7} {2**64 - 1 - t} 0.1 {-t / 3} "
        f"s\\ {k}\\\\x{t} YWJj"
        for k in range(15)
        for t in range(4)
    ]
    recs = [rowformat.parse_line(ln) for ln in lines]

    def values(rec):
        return rowformat.columns_to_values(
            rec.fmt, rec.v_long, rec.v_double, rec.v_str, rec.v_bin
        )

    def spilled(db):
        tx = Transaction(db, strict_order=True, spill_threshold=7)
        for rec in recs:
            tx.add_record(rec.key, rec.ts, rec.fmt, values(rec))
        assert tx._spill_dir is not None, "never spilled"
        return tx.commit()

    def unsorted(db):
        tx = Transaction(db)
        for rec in sorted(recs, key=lambda r: (r.ts, random.Random(r.key).random())):
            tx.add_record(rec.key, rec.ts, rec.fmt, values(rec))
        return tx.commit()

    def by_line(db):
        tx = Transaction(db, strict_order=True)
        for ln in lines:
            tx.add_line(ln)
        return tx.commit()

    def rows(db):
        return db.commit_rows([rec.as_row() for rec in reversed(recs)])

    def run_content(write):
        db = Database(None, str(tmp_path / write.__name__), buckets=4)
        run = os.path.join(db.path, write(db))
        files = {}
        for name in os.listdir(run):
            if name.endswith(".parquet"):
                files[parse_bucket_id(name)] = pq.read_table(
                    os.path.join(run, name)
                ).to_pylist()
        markers = {
            m: open(os.path.join(run, m)).read() for m in ("_B", "_U")
        }
        return files, markers

    want = run_content(spilled)
    assert sum(len(v) for v in want[0].values()) == len(recs)
    assert want[1] == {"_B": "4", "_U": "1"}
    for write in (unsorted, by_line, rows):
        assert run_content(write) == want, write.__name__


def test_concurrent_writers_all_commit(db):
    """8 threads committing interleaved transactions: the atomic-rename
    protocol with nanos-collision retry must give every tx a distinct
    run, lose no records, and keep LWW deterministic (create_tx.rs
    :180-264 semantics under real concurrency)."""
    import threading

    N_THREADS, TXS = 8, 4
    errors = []

    def writer(t):
        try:
            for b in range(TXS):
                rows = [
                    {
                        "key": f"w{t:02d}",
                        "ts": T0 + b * 100 + i,
                        "fmt": "u",
                        "v_long": [t * 1000 + b * 10 + i],
                        "v_double": [],
                        "v_str": [],
                        "v_bin": [],
                    }
                    for i in range(5)
                ]
                db.commit_rows(rows)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert len(db.data_runs()) == N_THREADS * TXS  # every tx its own run
    rows = db.read().collect()
    assert len(rows) == N_THREADS * TXS * 5  # no records lost
    got = {(r.key, r.ts): r.v_long[0] for r in rows}
    assert got[("w03", T0 + 203)] == 3 * 1000 + 2 * 10 + 3


def test_time_travel_as_of(db):
    """read(as_of=tx) reconstructs historical snapshots on the
    immutable-run layout: each commit (including deletes) is a readable
    version until compaction rewrites history."""
    tx = db.create_tx()
    tx.add_record("k", 100, "u", [1])
    tx.commit()
    t1 = db.data_runs()[-1].name
    tx = db.create_tx()
    tx.add_record("k", 100, "u", [2])  # LWW overwrite
    tx.add_record("k", 200, "u", [3])
    tx.commit()
    t2 = db.data_runs()[-1].name
    t3 = db.commit_deletes([{"after_ns": 150}])

    def snap(as_of):
        return {(r.ts, r.v_long[0]) for r in db.read(as_of=as_of).collect()}

    assert snap(t1) == {(100, 1)}
    assert snap(t2) == {(100, 2), (200, 3)}
    assert snap(t3) == {(100, 2)}          # delete applied
    assert snap(None if False else "zzz") == {(100, 2)}  # beyond head == head
    assert snap("tx.0000000000000000") == set()  # before everything

    # compaction collapses history: an as_of older than the compaction
    # resolves to the COMPACTED state ('main' sorts before any tx name)
    db.compact(major=True)
    assert snap(t1) == {(100, 2)}
    assert {(r.ts, r.v_long[0]) for r in db.read().collect()} == {(100, 2)}


def test_changes_batch_feed(db):
    """changes(since, until) returns exactly the runs in the window —
    the batch CDC companion of tail_records."""
    names = []
    for i in range(3):
        tx = db.create_tx()
        tx.add_record("k", 100 + i, "u", [i])
        tx.commit()
        names.append(db.data_runs()[-1].name)

    assert {r.v_long[0] for r in db.changes().collect()} == {0, 1, 2}
    assert {r.v_long[0] for r in db.changes(since=names[0]).collect()} == {1, 2}
    assert {
        r.v_long[0] for r in db.changes(since=names[0], until=names[1]).collect()
    } == {1}
    assert db.changes(since=names[2]).count() == 0


def test_rebucket_migration(db, spark):
    """rebucket() changes B (the spill knob) via meta swap + major
    compaction; reads stay correct throughout and the new layout
    bucket-prunes with the new B."""
    tx = db.create_tx()
    for i in range(60):
        tx.add_record(f"key{i:03d}", 1000, "u", [i])
    tx.commit()
    old_b = db.buckets
    before = {(r.key, r.v_long[0]) for r in db.read().collect()}

    db.rebucket(old_b * 2)
    assert db.buckets == old_b * 2
    with open(os.path.join(db.path, "BUCKETS")) as f:
        assert int(f.read()) == old_b * 2
    assert {(r.key, r.v_long[0]) for r in db.read().collect()} == before

    # a reopened handle adopts the new B; point reads use it too
    from sonnerie_spark.db import Database

    db2 = Database(spark, db.path)
    assert db2.buckets == old_b * 2
    assert [r["v_long"][0] for r in db2.get("key007")] == [7]

    # new commits write the new layout: multi-run read bucket-prunes at 2B
    tx = db2.create_tx()
    tx.add_record("key000", 2000, "u", [100])
    tx.commit()
    plan = db2.read(key="key007")._sc._jvm.PythonSQLUtils.explainString(
        db2.read(key="key007")._jdf.queryExecution(), "formatted"
    )
    assert f"out of {old_b * 2}" in plan, plan


def test_time_travel_random_model(db):
    """Model check: after every commit, read(as_of=that tx) must equal
    the model's state at that point — across overwrites and new keys."""
    import random

    rng = random.Random(11)
    model = {}
    snapshots = []  # (txname, frozen model)
    for _ in range(6):
        batch = {}
        for _ in range(rng.randint(1, 5)):
            k = f"k{rng.randint(0, 2)}"
            t = rng.randint(0, 4)
            batch[(k, t)] = rng.randint(0, 99)
        tx = db.create_tx()
        for (k, t), v in sorted(batch.items()):
            tx.add_record(k, t, "u", [v])
            model[(k, t)] = v
        tx.commit()
        snapshots.append((db.data_runs()[-1].name, dict(model)))

    for txname, frozen in snapshots:
        got = {
            (r.key, r.ts): r.v_long[0] for r in db.read(as_of=txname).collect()
        }
        assert got == frozen, txname


def test_commit_fsyncs_before_publishing_rename(spark, tmp_path, monkeypatch):
    """Durability contract (create_tx.rs:210-264): the run's files are
    fsynced BEFORE the rename that publishes tx.*, and the database
    directory is fsynced AFTER it — a power loss can never surface a
    published transaction whose data blocks were not durable."""
    import os as _os

    from sonnerie_spark import fsutil

    db = Database(spark, str(tmp_path / "db"))
    events = []
    real_tree, real_dir, real_rename = (
        fsutil.fsync_tree, fsutil.fsync_dir, _os.rename,
    )
    monkeypatch.setattr(
        "sonnerie_spark.db.fsync_tree",
        lambda p: (events.append(("tree", p)), real_tree(p))[1],
        raising=False,
    )
    monkeypatch.setattr(
        "sonnerie_spark.db.fsync_dir",
        lambda p: (events.append(("dir", p)), real_dir(p))[1],
        raising=False,
    )
    monkeypatch.setattr(
        _os,
        "rename",
        lambda s, d: (events.append(("rename", s, d)), real_rename(s, d))[1],
    )
    txname = db.commit_rows(
        [
            {"key": "k", "ts": 1, "fmt": "u", "v_long": [7],
             "v_double": [], "v_str": [], "v_bin": []}
        ]
    )
    kinds = [e[0] for e in events]
    assert "tree" in kinds and "rename" in kinds and "dir" in kinds
    i_tree = kinds.index("tree")
    i_ren = next(
        i for i, e in enumerate(events)
        if e[0] == "rename" and e[2].endswith(txname)
    )
    i_dir = kinds.index("dir", i_ren)
    assert i_tree < i_ren < i_dir  # data -> publish -> dir entry
    assert events[i_tree][1] == events[i_ren][1]  # the tmp tree itself
    assert events[i_dir][1] == db.path


def test_commit_durable_false_skips_fsync(spark, tmp_path, monkeypatch):
    """durable=False opts out of the power-loss contract (re-runnable
    ingests): no tree/dir fsync on the commit path, rename still atomic."""
    db = Database(spark, str(tmp_path / "db"), durable=False)
    calls = []
    monkeypatch.setattr(
        "sonnerie_spark.db.fsync_tree", lambda p: calls.append(p), raising=False
    )
    monkeypatch.setattr(
        "sonnerie_spark.db.fsync_dir", lambda p: calls.append(p), raising=False
    )
    db.commit_rows(
        [
            {"key": "k", "ts": 1, "fmt": "u", "v_long": [7],
             "v_double": [], "v_str": [], "v_bin": []}
        ]
    )
    assert calls == []
    assert len(db.data_runs()) == 1


def test_compact_fsyncs_before_purging_inputs(spark, tmp_path, monkeypatch):
    """Compaction destroys its merged inputs, so the merged output must
    be durable BEFORE the swap (the reference syncs at compaction): the
    tree fsync of the new run precedes every hide-rename and the rmtree
    purge, and the directory fsync lands after the publishing rename."""
    import os as _os
    import shutil as _shutil

    from sonnerie_spark import fsutil

    db = Database(spark, str(tmp_path / "db"))
    for i in range(2):
        db.commit_rows(
            [{"key": "k", "ts": 100 + i, "fmt": "u", "v_long": [i],
              "v_double": [], "v_str": [], "v_bin": []}]
        )
    events = []
    real_tree, real_dir = fsutil.fsync_tree, fsutil.fsync_dir
    real_rename, real_rmtree = _os.rename, _shutil.rmtree
    monkeypatch.setattr(
        "sonnerie_spark.db.fsync_tree",
        lambda p: (events.append(("tree", p)), real_tree(p))[1],
        raising=False,
    )
    monkeypatch.setattr(
        "sonnerie_spark.db.fsync_dir",
        lambda p: (events.append(("dir", p)), real_dir(p))[1],
        raising=False,
    )
    monkeypatch.setattr(
        _os, "rename",
        lambda s, d: (events.append(("rename", s, d)), real_rename(s, d))[1],
    )
    monkeypatch.setattr(
        _shutil, "rmtree",
        lambda p, **k: (events.append(("rmtree", p)), real_rmtree(p, **k))[1],
    )
    db.compact(major=True)
    kinds = [e[0] for e in events]
    i_tree = next(
        i for i, e in enumerate(events)
        if e[0] == "tree" and ".tmp-compact-" in str(e[1])
    )
    i_pub = next(
        i for i, e in enumerate(events)
        if e[0] == "rename" and str(e[2]).endswith("main")
    )
    i_dir = kinds.index("dir", i_pub)
    i_purge = next(
        (i for i, e in enumerate(events)
         if e[0] == "rmtree" and ".tmp-old-" in str(e[1])),
        len(events),
    )
    assert i_tree < i_pub < i_dir <= i_purge
    assert {r.ts: r.v_long[0] for r in db.read().collect()} == {100: 0, 101: 1}


def _rowset(db):
    return {(r.key, r.ts, r.v_long[0]) for r in db.read().collect()}


def test_compact_crash_before_publish_rolls_back(spark, tmp_path, monkeypatch):
    """A compactor dying between the hide renames and the publish
    rename used to leave the database with ZERO visible runs — every
    record stranded under .tmp-old-* names the janitor would reap.
    The journaled swap plan now rolls it back on the next open."""
    import os as _os

    import pytest as _pytest

    from sonnerie_spark.db import COMPACT_PLAN

    db = Database(spark, str(tmp_path / "db"))
    for i in range(2):
        db.commit_rows(
            [{"key": f"k{i}", "ts": 100 + i, "fmt": "u", "v_long": [i],
              "v_double": [], "v_str": [], "v_bin": []}]
        )
    before = _rowset(db)
    real_rename = _os.rename

    def boom(src, dst):
        if _os.path.basename(dst) == "main":  # the publish rename
            raise RuntimeError("simulated crash before publish")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", boom)
    with _pytest.raises(RuntimeError, match="before publish"):
        db.compact(major=True)
    monkeypatch.undo()
    assert _os.path.exists(_os.path.join(db.path, COMPACT_PLAN))

    db2 = Database(spark, str(tmp_path / "db"))
    assert not _os.path.exists(_os.path.join(db2.path, COMPACT_PLAN))
    assert _rowset(db2) == before  # every run restored
    assert len(db2.data_runs()) == 2
    db2.compact(major=True)  # and compaction still completes cleanly
    assert _rowset(db2) == before
    assert [r.name for r in db2.data_runs()] == ["main"]


def test_compact_crash_mid_purge_rolls_forward(spark, tmp_path, monkeypatch):
    """Dying after the publish rename but before the purge leaves the
    plan + hidden originals; recovery must finish the purge (the merged
    run is live) rather than resurrect stale runs next to it."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from sonnerie_spark.db import COMPACT_PLAN

    db = Database(spark, str(tmp_path / "db"))
    for i in range(2):
        db.commit_rows(
            [{"key": f"k{i}", "ts": 100 + i, "fmt": "u", "v_long": [i],
              "v_double": [], "v_str": [], "v_bin": []}]
        )
    before = _rowset(db)
    real_rmtree = _shutil.rmtree

    def boom(path, **kw):
        if ".tmp-old-" in str(path):
            raise RuntimeError("simulated crash mid purge")
        return real_rmtree(path, **kw)

    monkeypatch.setattr(_shutil, "rmtree", boom)
    with _pytest.raises(RuntimeError, match="mid purge"):
        db.compact(major=True)
    monkeypatch.undo()

    db2 = Database(spark, str(tmp_path / "db"))
    assert not _os.path.exists(_os.path.join(db2.path, COMPACT_PLAN))
    assert _rowset(db2) == before
    assert [r.name for r in db2.data_runs()] == ["main"]
    assert not [
        n for n in _os.listdir(db2.path) if n.startswith(".tmp-old-")
    ]


def test_opener_adopts_b_of_a_creator_paused_after_create(tmp_path, monkeypatch):
    """A second opener that runs while the first creator of BUCKETS is
    paused right after the file appears must adopt the creator's B. The
    file used to be created empty (O_EXCL) and written afterwards, so
    that opener — and every later one, if the creator died there —
    raised ValueError on the empty file."""
    import threading

    path = str(tmp_path / "db")
    meta = os.path.join(path, "BUCKETS")
    real_open, real_rename = os.open, os.rename
    adopted, errors = [], []

    def second_opener():
        def run():
            try:
                adopted.append(Database(None, path, buckets=8).buckets)
            except Exception as e:  # re-raised below
                errors.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(30)
        assert not t.is_alive(), "second opener blocked on the creator"

    def pause_after(real, target):
        def inner(*a, **k):
            out = real(*a, **k)
            if os.fspath(target(a)) == meta and not adopted and not errors:
                second_opener()
            return out

        return inner

    monkeypatch.setattr(os, "open", pause_after(real_open, lambda a: a[0]))
    monkeypatch.setattr(os, "rename", pause_after(real_rename, lambda a: a[1]))
    assert Database(None, path, buckets=4).buckets == 4
    monkeypatch.undo()
    if errors:
        raise errors[0]
    assert adopted == [4]
    assert Database(None, path, buckets=16).buckets == 4

    # an empty BUCKETS left by a creator killed before its write
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    open(os.path.join(empty, "BUCKETS"), "w").close()
    assert Database(None, empty, buckets=4).buckets == 4
    assert Database(None, empty, buckets=16).buckets == 4


def test_set_buckets_fsyncs_file_then_renames_then_fsyncs_dir(tmp_path, monkeypatch):
    """rebucket's BUCKETS swap keeps the power-loss contract of every
    other published file: the new file's fsync, then the rename, then
    the directory's fsync."""
    from sonnerie_spark import fsutil

    db = Database(None, str(tmp_path / "db"), buckets=4)
    events = []

    def log(name, real, at):
        def inner(*a, **k):
            events.append((name, os.fspath(a[at]), os.fspath(a[0])))
            return real(*a, **k)

        return inner

    for fn in ("fsync_file", "fsync_dir"):
        monkeypatch.setattr(fsutil, fn, log(fn, getattr(fsutil, fn), 0))
    monkeypatch.setattr(os, "rename", log("rename", os.rename, 1))
    monkeypatch.setattr(os, "replace", log("rename", os.replace, 1))
    db._set_buckets(8)
    monkeypatch.undo()

    meta = os.path.join(db.path, "BUCKETS")
    i_ren = next(i for i, e in enumerate(events) if e[:2] == ("rename", meta))
    tmp = events[i_ren][2]
    i_file = next(i for i, e in enumerate(events) if e[:2] == ("fsync_file", tmp))
    i_dir = next(
        i for i, e in enumerate(events)
        if i > i_ren and e[:2] == ("fsync_dir", db.path)
    )
    assert i_file < i_ren < i_dir
    assert Database(None, db.path).buckets == 8


def test_get_on_a_cold_reader_during_compaction_planning(spark, tmp_path, monkeypatch):
    """Compaction used to rebind ``delete_markers`` on the shared handle
    to a zero-argument lambda while it planned the merge; a get() on
    that handle whose point reader missed its marker cache then called
    ``delete_markers([run])`` and raised TypeError (an HTTP 500 through
    serve). The get must answer normally inside that window."""
    path = str(tmp_path / "db")
    db = Database(spark, path)
    for i in range(2):
        db.commit_rows(
            [{"key": f"k{i}", "ts": 100 + i, "fmt": "u", "v_long": [i],
              "v_double": [], "v_str": [], "v_bin": []}]
        )
    db.commit_deletes([{"first_key": "k1", "last_key": "k2"}])
    want = [Database(spark, path).get(k) for k in ("k0", "k1")]
    assert len(want[0]) == 1 and want[1] == []

    db = Database(spark, path)  # cold point reader
    real = Database._apply_delete_markers
    got = []

    def planning(self, *a, **k):
        got.append([self.get(k) for k in ("k0", "k1")])
        return real(self, *a, **k)

    monkeypatch.setattr(Database, "_apply_delete_markers", planning)
    db.compact()
    monkeypatch.undo()
    assert got == [want]
    assert [db.get(k) for k in ("k0", "k1")] == want


def _u(key, ts, v):
    return {"key": key, "ts": ts, "fmt": "u", "v_long": [v],
            "v_double": [], "v_str": [], "v_bin": []}


def test_read_and_keys_during_major_compaction_keep_deletes(spark, tmp_path, monkeypatch):
    """read() and keys() take ONE run listing and load its delete markers
    before planning the scan. A major compaction landing right after the
    plan purges the marker run, while the bucketed view's hard links keep
    the planned rows readable; markers taken from a second listing would
    be gone and the deleted key would come back."""
    path = str(tmp_path / "db")
    db = Database(spark, path, buckets=2)
    db.commit_rows([_u("a", 1, 1), _u("k", 1, 1)])
    db.commit_rows([_u("a", 2, 2), _u("k", 2, 2)])
    db.commit_deletes([{"wildcard": "k"}])
    real = Database._scan_data_runs
    compactions = []

    def compact_after_plan(self, runs):
        planned = real(self, runs)
        if self is db and len(compactions) < 2:
            compactions.append(Database(spark, path).compact(major=True))
        return planned

    monkeypatch.setattr(Database, "_scan_data_runs", compact_after_plan)
    rows = [(r.key, r.ts) for r in db.read_sorted().collect()]
    # refill: the first compaction left one run, the race needs two
    db.commit_rows([_u("a", 3, 3), _u("k", 3, 3)])
    db.commit_deletes([{"wildcard": "k"}])
    keys = [r.key for r in db.keys().collect()]
    monkeypatch.undo()
    assert compactions == ["main", "main"]
    assert rows == [("a", 1), ("a", 2)]
    assert keys == ["a"]
    assert [(r.key, r.ts) for r in db.read_sorted().collect()] == [
        ("a", 1), ("a", 2), ("a", 3)
    ]
