#!/usr/bin/env python3
"""Rebucket migration at scale: cost + mid-migration read correctness.

Reproduces SCALE.md's B-knob experiment end-to-end on the current code
(the per-run ``_B`` marker machinery): seed N records as 4 runs at
B=32, measure the multi-run read, then run the ``rebucket(128)``
migration and measure (a) the migration cost, (b) read correctness IN
THE MIDDLE of the migration window (BUCKETS swapped, compaction not yet
run — the crash window the ``_B`` markers exist for), (c) a STALE
handle still carrying B=32 reading the migrated layout, and (d) the
post-migration read.

Usage: python tools/rebucket_scale.py [n_records] [db_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sonnerie_spark.db import Database
from sonnerie_spark.session import get_spark


def gen_run(spark, n, n_keys, run_idx, n_runs):
    """Deterministic slice run_idx of an n-record, n_keys-series corpus."""
    per = n // n_runs
    return (
        spark.range(run_idx * per, (run_idx + 1) * per)
        .select(
            F.concat(
                F.lit("key"), F.lpad((F.col("id") % n_keys).cast("string"), 6, "0")
            ).alias("key"),
            (F.col("id") / n_keys).cast("long").alias("ts"),
            F.lit("u").alias("fmt"),
            F.array(F.pmod(F.xxhash64("id"), F.lit(1000))).alias("v_long"),
            F.lit(None).cast("array<double>").alias("v_double"),
            F.lit(None).cast("array<string>").alias("v_str"),
            F.lit(None).cast("array<binary>").alias("v_bin"),
        )
    )


def timed_read(db, label):
    t0 = time.time()
    n = db.read().write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{label}: {dt:.1f}s")
    return dt


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    db_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="rebucket_")
    created = len(sys.argv) <= 2
    spark = get_spark("rebucket_scale")
    n_keys, n_runs = 10_000, 4

    db = Database(spark, db_dir, buckets=32)
    t0 = time.time()
    for i in range(n_runs):
        db.commit_dataframe(gen_run(spark, n, n_keys, i, n_runs),
                            check_duplicates=False)
    print(f"seed {n} rows as {n_runs} runs @ B=32: {time.time() - t0:.1f}s")

    expect = n  # slices are disjoint: every (key, ts) unique
    t_before = timed_read(db, "read @ B=32 (4 runs)")

    # Probe rows for correctness checks through the migration.
    probe_keys = ["key000000", "key004999", "key009999"]
    before = {k: [(r["ts"], r["v_long"][0]) for r in db.get(k)] for k in probe_keys}

    # --- migration, instrumented at the crash window -------------------
    t0 = time.time()
    db._set_buckets(128)  # step 1: BUCKETS swapped, layout still old-B
    t_swap = time.time() - t0

    # (b) mid-migration: fresh handle sees B=128 + four B=32 runs.
    mid = Database(spark, db_dir)
    assert mid.buckets == 128
    cnt = mid.read().count()
    assert cnt == expect, f"mid-migration count {cnt} != {expect}"
    for k in probe_keys:
        got = [(r["ts"], r["v_long"][0]) for r in mid.get(k)]
        assert got == before[k], f"mid-migration point read diverged for {k}"
    print("mid-migration reads (fresh handle, B=128 over B=32 runs): OK")

    t0 = time.time()
    db.compact(major=True)  # step 2: rewrite aligned to the new B
    t_compact = time.time() - t0
    print(f"rebucket migration: swap {t_swap * 1e3:.0f}ms + compact {t_compact:.1f}s")

    # (c) stale handle still carrying B=32 over the migrated layout.
    stale = Database(spark, db.path)
    stale.buckets = 32
    scnt = stale.read().count()
    assert scnt == expect, f"stale-handle count {scnt} != {expect}"
    for k in probe_keys:
        got = [(r["ts"], r["v_long"][0]) for r in stale.get(k)]
        assert got == before[k], f"stale-handle point read diverged for {k}"
    print("stale-handle reads (B=32 handle over B=128 layout): OK")

    t_after = timed_read(Database(spark, db_dir), "read @ B=128 (compacted)")
    print(
        f"SUMMARY n={n}: read_before={t_before:.1f}s "
        f"migration={t_swap + t_compact:.1f}s read_after={t_after:.1f}s "
        f"speedup={t_before / t_after:.1f}x"
    )
    if created:
        shutil.rmtree(db_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
