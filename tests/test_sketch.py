"""HyperLogLog distinct sketch: determinism, mergeability, accuracy."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sonnerie_spark.operators import sketch


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 20000).select(
        F.concat(F.lit("user-"), F.col("id")).alias("v"),
        (F.col("id") % 2).alias("half"),
    )


def test_sketch_matches_python_model(spark, ids):
    got = {
        r["bucket"]: r["max_rho"]
        for r in sketch.hll_sketch(ids.limit(500), "v").collect()
    }
    exp = {}
    for i in range(500):
        h = int(hashlib.md5(f"user-{i}".encode()).hexdigest()[:15], 16)
        b, y = h % 256, h // 256
        rho = 53 if y == 0 else 52 - (y.bit_length() - 1)
        exp[b] = max(exp.get(b, 0), rho)
    assert got == exp


def test_merge_equals_whole_corpus_sketch(spark, ids):
    whole = sketch.hll_sketch(ids, "v")
    a = sketch.hll_sketch(ids.filter(F.col("half") == 0), "v")
    b = sketch.hll_sketch(ids.filter(F.col("half") == 1), "v")
    merged = sketch.hll_merge(a, b)
    rows = lambda df: {
        (r["bucket"], r["max_rho"]) for r in df.collect()
    }
    assert rows(merged) == rows(whole)


def test_estimate_within_hll_error_bound(spark, ids):
    est = sketch.hll_estimate(sketch.hll_sketch(ids, "v"))
    # standard error for m=256 is ~1.04/sqrt(m) = 6.5%; allow 3 sigma
    assert abs(est - 20000) / 20000 < 0.20


def test_sketch_is_duplicate_insensitive(spark, ids):
    dup = ids.unionByName(ids).unionByName(ids.limit(100))
    rows = lambda df: {
        (r["bucket"], r["max_rho"]) for r in df.collect()
    }
    assert rows(sketch.hll_sketch(dup, "v")) == rows(
        sketch.hll_sketch(ids, "v")
    )


def test_cms_estimates_are_upper_bounds_and_tight_for_heavy(spark):
    # zipf-ish corpus: token t_i appears ~ 2000/i times
    import pyspark.sql.functions as F2

    spark_range = spark.range(0, 2000)
    vals = spark_range.select(
        F2.explode(
            F2.array(*[F2.lit(f"t{i}") for i in range(1, 11)])
        ).alias("v"),
        "id",
    ).filter(F2.col("id") % F2.expr("cast(substring(v, 2, 5) as int)") == 0)
    exact = {r["v"]: r["c"] for r in vals.groupBy("v").agg(
        F2.count("*").alias("c")).collect()}
    sk = sketch.cms_sketch(vals, "v", depth=4, width=256)
    top = sketch.cms_topk(
        vals.select("v").distinct(), sk, k=10, depth=4, width=256
    ).collect()
    for r in top:
        assert r["est"] >= exact[r["v"]]  # CMS never under-counts
    # with 10 distinct tokens in 4x256 counters there are no
    # collisions: estimates are exact and the ranking matches
    assert {r["v"]: r["est"] for r in top} == exact


def test_kmv_overlap_exact_on_small_domain(spark):
    a = spark.range(0, 300).selectExpr("concat('x', id) AS v")
    b = spark.range(150, 450).selectExpr("concat('x', id) AS v")
    ka = sketch.kmv_sketch(a, "v", k=1000)  # k > domain: degenerates
    kb = sketch.kmv_sketch(b, "v", k=1000)  # to the exact h-sets
    row = sketch.kmv_overlap(ka, kb, k=1000).collect()[0]
    assert row["k_eff"] == 450 and row["inter"] == 150
    assert row["jaccard_q"] == 150 * 1_000_000 // 450


def test_kmv_estimate_accuracy_large_domain(spark):
    a = spark.range(0, 20000).selectExpr("concat('x', id) AS v")
    b = spark.range(10000, 30000).selectExpr("concat('x', id) AS v")
    ka = sketch.kmv_sketch(a, "v", k=256)
    kb = sketch.kmv_sketch(b, "v", k=256)
    row = sketch.kmv_overlap(ka, kb, k=256).collect()[0]
    true_j = 10000 / 30000
    assert abs(row["jaccard_q"] / 1e6 - true_j) < 0.12  # ~3 sigma @ k=256


def test_grouped_sketch_equals_per_group_sketches(spark, ids):
    grouped = sketch.hll_sketch_grouped(
        ids, F.col("half").cast("string"), "v"
    )
    got = {
        (r["grp"], r["bucket"], r["max_rho"]) for r in grouped.collect()
    }
    exp = set()
    for h in (0, 1):
        for r in sketch.hll_sketch(
            ids.filter(F.col("half") == h), "v"
        ).collect():
            exp.add((str(h), r["bucket"], r["max_rho"]))
    assert got == exp


def test_hll_store_incremental_equals_oneshot_and_replay_safe(
    spark, ids, tmp_path
):
    store = sketch.HllStore(spark, str(tmp_path / "hll"))
    grp = F.col("half").cast("string")
    first = ids.filter(F.col("v").substr(-1, 1).isin("0", "1", "2"))
    rest = ids.subtract(first)
    store.add(first, grp, "v")
    store.add(rest, grp, "v")
    rows = lambda df: {
        (r["grp"], r["bucket"], r["max_rho"]) for r in df.collect()
    }
    oneshot = rows(sketch.hll_sketch_grouped(ids, grp, "v"))
    assert rows(store.sketches()) == oneshot
    # at-least-once replay: re-adding an already-merged batch is a
    # no-op (per-bucket max is idempotent)
    store.add(first, grp, "v")
    assert rows(store.sketches()) == oneshot
    # estimates: each half holds 10k distinct values
    ests = {r["grp"]: r["est"] for r in store.estimates().collect()}
    for g in ("0", "1"):
        assert abs(ests[g] - 10000) / 10000 < 0.20


def test_hll_store_under_streaming_ingest(spark, ids, tmp_path):
    """foreachBatch micro-batches merging into the store converge to
    the whole-corpus grouped sketch — the 'distinct per day maintained
    forever' shape."""
    src = str(tmp_path / "arrivals")
    for i in range(3):
        ids.filter(F.crc32(F.col("v")) % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    store = sketch.HllStore(spark, str(tmp_path / "hll_s"))

    def on_batch(batch_df, _bid):
        store.add(batch_df, F.col("half").cast("string"), "v")

    stream = (
        spark.readStream.schema(ids.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = lambda df: {
        (r["grp"], r["bucket"], r["max_rho"]) for r in df.collect()
    }
    assert rows(store.sketches()) == rows(
        sketch.hll_sketch_grouped(ids, F.col("half").cast("string"), "v")
    )


def test_sketch_plan_is_single_agg_no_udf(spark, ids):
    plan = (
        sketch.hll_sketch(ids, "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # exactly one exchange: the final bucket aggregation (map-side
    # partials mean at most 256 rows per task cross the wire)
    assert plan.count("Exchange") == 1


def test_dd_sketch_cross_engine_merge_and_accuracy(spark):
    """DDSketch: (a) the integer bucket table matches the DuckDB mirror
    bitwise (ln_cr bucket index), (b) merge(a, b) == sketch(whole),
    (c) quantile estimates are within the paper's relative-error bound
    vs numpy on a heavy-tailed signed sample, (d) zero-bucket and
    NaN/null handling."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.lognormal(3.0, 2.0, 2000),
            -rng.lognormal(1.0, 1.5, 1000),
            np.zeros(20),
            np.array([1e-12, -1e-11, np.nan]),
        ]
    )
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["i", "x"]
    )
    sk = sketch.dd_sketch(df, "x", relative_accuracy=0.01)
    got = sorted((r["sgn"], r["bucket"], r["n"]) for r in sk.collect())

    con = duckdb.connect()
    con.register("tv", pd.DataFrame({"x": vals}))
    mirror = sorted(
        con.execute(
            sketch.dd_sketch_sql("x", "tv", relative_accuracy=0.01)
        ).fetchall()
    )
    assert got == [(s, b, int(n)) for s, b, n in mirror]

    # zero bucket holds exactly the zeros + sub-min magnitudes; the NaN
    # row is dropped entirely
    zero_n = sum(n for s, _, n in got if s == 0)
    assert zero_n == 22
    assert sum(n for _, _, n in got) == len(vals) - 1  # NaN dropped

    merged = sketch.dd_merge(
        sketch.dd_sketch(df.filter("i % 2 = 0"), "x"),
        sketch.dd_sketch(df.filter("i % 2 = 1"), "x"),
    )
    assert sorted(
        (r["sgn"], r["bucket"], r["n"]) for r in merged.collect()
    ) == got

    clean = vals[~np.isnan(vals)]
    for e in sketch.dd_quantiles(sk, [0.01, 0.25, 0.5, 0.9, 0.99]):
        true = float(np.quantile(clean, e["q"], method="lower"))
        if abs(true) > 1e-6:
            assert abs(e["est"] - true) / abs(true) < 0.02, (e, true)

    with pytest.raises(ValueError, match="relative_accuracy"):
        sketch.dd_sketch(df, "x", relative_accuracy=1.5)
    with pytest.raises(ValueError, match="quantile"):
        sketch.dd_quantiles(sk, [1.5])


def test_dd_sketch_plan_is_single_agg_no_udf(spark):
    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    plan = (
        sketch.dd_sketch(df, "x")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") == 1  # only the bucket aggregation


def test_dd_grouped_quantile_distributed_matches_model(spark):
    """Grouped DDSketch + distributed per-group quantile extraction:
    the picked (sgn, bucket) matches a driver-side dd_quantiles walk of
    each group's own sketch, and est is within the relative bound of
    numpy's per-group quantile."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (f"g{i % 4}", float(v))
        for i, v in enumerate(
            np.concatenate(
                [rng.lognormal(2, 1.5, 3000), -rng.lognormal(1, 1, 1000)]
            )
        )
    ]
    df = spark.createDataFrame(rows, ["g", "x"])
    sk = sketch.dd_sketch_grouped(df, "g", "x", relative_accuracy=0.01)
    out = {
        r["grp"]: (r["sgn"], r["bucket"], r["est"])
        for r in sketch.dd_group_quantile(sk, 0.9).collect()
    }
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["g", "x"])
    for g, sub in pdf.groupby("g"):
        per = sketch.dd_sketch(
            spark.createDataFrame([(float(v),) for v in sub["x"]], ["x"]),
            "x",
        )
        walk = sketch.dd_quantiles(per, [0.9])[0]["est"]
        sgn, bucket, est = out[g]
        # same bucket either path; the float reconstruction may differ
        # by 1 ulp (JVM Math.pow vs Python **) — which is exactly why
        # est stays out of hashed gate values
        assert abs(est - walk) <= 4 * abs(walk) * 2.3e-16, (g, est, walk)
        true = float(np.quantile(sub["x"], 0.9, method="lower"))
        assert abs(est - true) / abs(true) < 0.02, (g, est, true)


def test_dd_store_exactly_once_and_crash_recovery(spark, tmp_path):
    """DdStore: (a) replaying a batch_id is a no-op (sum-merge would
    otherwise double-count — the ledger rides inside the swapped
    generation), (b) incremental adds equal the one-shot sketch of the
    union, (c) a crash between the swap's two renames (data dir
    missing, .old backup present) recovers to the pre-add generation
    so the interrupted batch can retry."""
    import os
    import shutil

    from sonnerie_spark.operators.sketch import DdStore

    rows = [(f"g{i % 3}", float((i % 17) + 0.5)) for i in range(300)]
    df = spark.createDataFrame(rows, ["g", "x"])
    store = DdStore(spark, str(tmp_path / "dd"))
    assert store.add(0, df.filter("x < 8"), "g", "x") is True
    assert store.add(1, df.filter("x >= 8"), "g", "x") is True
    assert store.add(1, df.filter("x >= 8"), "g", "x") is False  # replay
    assert store.applied() == {0, 1}

    want = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in sketch.dd_sketch_grouped(df, "g", "x").collect()
    )
    got = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in store.sketches().collect()
    )
    assert got == want

    # simulate a crash mid-swap: data renamed away, tmp never landed
    os.rename(store._data, store._data + ".old-deadbeef")
    os.makedirs(store._data + ".tmp-stale")
    assert store.applied() == {0, 1}  # recovery restored the backup
    assert not os.path.isdir(store._data + ".tmp-stale")
    assert store.add(2, df.limit(10), "g", "x") is True
    assert store.applied() == {0, 1, 2}

    # per-group quantile off the store answers for every group
    assert len(store.group_quantile(0.5).collect()) == 3


def test_dd_store_concurrent_adds_serialize(spark, tmp_path):
    """Parallel add() calls (distinct batch ids, same store) serialize
    under the flock: every batch lands exactly once regardless of
    interleaving, and the result equals the one-shot sketch."""
    from concurrent.futures import ThreadPoolExecutor

    from sonnerie_spark.operators.sketch import DdStore

    rows = [(f"g{i % 2}", float((i % 13) + 1.5)) for i in range(400)]
    df = spark.createDataFrame(rows, ["g", "x"])
    store = DdStore(spark, str(tmp_path / "ddc"))
    parts = [df.filter(f"crc32(cast(x as string)) % 4 = {i}") for i in range(4)]
    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(
            ex.map(lambda t: store.add(t[0], t[1], "g", "x"), enumerate(parts))
        )
    assert results == [True] * 4
    assert store.applied() == {0, 1, 2, 3}
    want = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in sketch.dd_sketch_grouped(df, "g", "x").collect()
    )
    got = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in store.sketches().collect()
    )
    assert got == want


def test_dd_store_torn_generation_rolls_back_to_backup(spark, tmp_path):
    """A present-but-torn generation (rename surfaced without durable
    contents after a power loss — simulated by truncating the ledger)
    rolls back to the retained backup: the torn batch was never
    durably recorded, so its retry re-applies it exactly once."""
    import json
    import os

    from sonnerie_spark.operators.sketch import DdStore

    rows = [(f"g{i % 2}", float(i % 7 + 1.0)) for i in range(100)]
    df = spark.createDataFrame(rows, ["g", "x"])
    store = DdStore(spark, str(tmp_path / "ddt"))
    assert store.add(0, df.filter("x <= 3"), "g", "x") is True
    assert store.add(1, df.filter("x > 3"), "g", "x") is True  # keeps gen0 as backup

    # tear the CURRENT generation's ledger (torn rename simulation)
    with open(os.path.join(store._data, "applied.json"), "w") as f:
        f.write('{"tor')  # invalid json
    # reads roll back to the backup: only batch 0 is applied
    assert store.applied() == {0}
    # the torn batch's retry re-applies cleanly
    assert store.add(1, df.filter("x > 3"), "g", "x") is True
    assert store.applied() == {0, 1}
    want = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in sketch.dd_sketch_grouped(df, "g", "x").collect()
    )
    got = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in store.sketches().collect()
    )
    assert got == want


def test_dd_sketch_drops_infinities(spark):
    """±inf rows are dropped like NaN (an infinity has no finite
    bucket: unfiltered it corrupted bucket (1, 0) in Spark and crashed
    DuckDB's BIGINT cast — r7 review), and the SQL mirror agrees."""
    import duckdb
    import pandas as pd

    vals = [1.0, 2.5, -3.0, float("inf"), float("-inf"), float("nan"), 0.0]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = sorted(
        (r["sgn"], r["bucket"], r["n"])
        for r in sketch.dd_sketch(df, "x").collect()
    )
    assert sum(n for _, _, n in got) == 4  # inf/-inf/nan all dropped
    con = duckdb.connect()
    con.register("tv", pd.DataFrame({"x": vals}))
    mirror = sorted(
        con.execute(sketch.dd_sketch_sql("x", "tv")).fetchall()
    )
    assert got == [(s, b, int(n)) for s, b, n in mirror]


def test_dd_merge_grouped_and_mixed_raises(spark):
    """dd_merge on grouped sketches keys on (grp, sgn, bucket) — a raw
    (sgn, bucket) merge would silently collapse all groups into one
    sketch (ADVICE r7). Mixing a grouped and an ungrouped sketch is a
    hard error for the same reason."""
    import pytest as _pytest

    rows = [(f"g{i % 3}", float(i % 7 + 1.0)) for i in range(120)]
    df = spark.createDataFrame(rows, ["g", "x"])
    a = sketch.dd_sketch_grouped(df.filter("x <= 3"), "g", "x")
    b = sketch.dd_sketch_grouped(df.filter("x > 3"), "g", "x")
    merged = sketch.dd_merge(a, b)
    assert "grp" in merged.columns
    want = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"])
        for r in sketch.dd_sketch_grouped(df, "g", "x").collect()
    )
    got = sorted(
        (r["grp"], r["sgn"], r["bucket"], r["n"]) for r in merged.collect()
    )
    assert got == want
    # the merged table has unique (grp, sgn, bucket) rows — the
    # precondition dd_group_quantile's cumulative sum relies on
    assert merged.groupBy("grp", "sgn", "bucket").count().filter(
        "count > 1"
    ).count() == 0

    plain = sketch.dd_sketch(df, "x")
    with _pytest.raises(ValueError, match="grouped"):
        sketch.dd_merge(a, plain)
    with _pytest.raises(ValueError, match="grouped"):
        sketch.dd_merge(plain, b)


def test_dd_store_doubly_torn_raises_clear_recovery_error(spark, tmp_path):
    """If the current generation AND the restored backup are both
    unreadable, recovery must surface a descriptive RuntimeError — not
    a raw JSONDecodeError/ArrowInvalid from a later read (ADVICE r7)."""
    import os

    import pytest as _pytest

    from sonnerie_spark.operators.sketch import DdStore

    rows = [(f"g{i % 2}", float(i % 7 + 1.0)) for i in range(60)]
    df = spark.createDataFrame(rows, ["g", "x"])
    store = DdStore(spark, str(tmp_path / "ddw"))
    assert store.add(0, df.filter("x <= 3"), "g", "x") is True
    assert store.add(1, df.filter("x > 3"), "g", "x") is True

    # tear BOTH the current generation and the retained backup
    import glob

    with open(os.path.join(store._data, "applied.json"), "w") as f:
        f.write('{"tor')
    backs = glob.glob(store._data + ".old-*")
    assert backs, "expected a retained backup generation"
    for back in backs:
        with open(os.path.join(back, "applied.json"), "w") as f:
            f.write("not json either")

    with _pytest.raises(RuntimeError, match="ALSO unreadable"):
        store.applied()


def test_bloom_no_false_negatives_and_broadcast_plan(spark, ids):
    """Bloom filter: every member must probe True (no false negatives,
    the structural guarantee), non-members may only flip True at the
    fill-factor rate, and the probe plan broadcasts the word table
    (never a sort-merge join) — the 100 TB shape."""
    from sonnerie_spark.operators.sketch import (
        bloom_might_contain,
        bloom_sketch,
    )

    df = spark.createDataFrame([(i, f"val{i}") for i in range(400)], ["id", "v"])
    members = df.filter("id % 3 = 0")
    sk = bloom_sketch(members, "v", num_bits=4096, num_hashes=4)
    out = bloom_might_contain(
        df, sk, value="v", num_bits=4096, num_hashes=4
    )
    rows = {r["id"]: r["might_contain"] for r in out.collect()}
    assert all(rows[i] for i in range(0, 400, 3)), "false negative!"
    fp = sum(1 for i in range(400) if i % 3 and rows[i])
    # 134 members x 4 hashes in 4096 bits -> ~12% fill, FP ~ 0.12^4
    assert fp <= 5, f"implausible false-positive count {fp}"

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # fully map-side probe: every hash exchange in the plan (the AQE
    # string repeats the initial plan, so count varies) is the bounded
    # word-table agg inside the sketch build — the candidate stream
    # itself is never repartitioned
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(([a-zA-Z_][a-zA-Z_0-9]*)", plan):
        assert m.group(1) == "word_idx", plan


def test_sketch_merge_identities(spark, ids):
    """cms_merge / kmv_merge / grouped hll_merge each equal the
    one-shot sketch of the union — the mergeability contracts the
    r8 gates pin cross-engine, here on an independent input."""
    from pyspark.sql import functions as F

    from sonnerie_spark.operators.sketch import (
        cms_merge,
        cms_sketch,
        hll_merge,
        hll_sketch_grouped,
        kmv_merge,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", f"u{i % 57}") for i in range(500)], ["i", "g", "u"]
    )
    a, b = df.filter("i % 2 = 0"), df.filter("i % 2 = 1")

    one = sorted(map(tuple, cms_sketch(df, "u", depth=2, width=64).collect()))
    two = sorted(map(tuple, cms_merge(
        cms_sketch(a, "u", depth=2, width=64),
        cms_sketch(b, "u", depth=2, width=64),
    ).collect()))
    assert one == two

    onek = sorted(r["h"] for r in kmv_sketch(df, "u", k=16).collect())
    twok = sorted(r["h"] for r in kmv_merge(
        kmv_sketch(a, "u", k=16), kmv_sketch(b, "u", k=16), k=16
    ).collect())
    assert onek == twok

    oneh = sorted(map(tuple, hll_sketch_grouped(df, "g", "u").collect()))
    twoh = sorted(map(tuple, hll_merge(
        hll_sketch_grouped(a, "g", "u"), hll_sketch_grouped(b, "g", "u")
    ).collect()))
    assert oneh == twoh

    import pytest as _pytest

    with _pytest.raises(ValueError, match="grouped"):
        hll_merge(hll_sketch_grouped(a, "g", "u"),
                  kmv_sketch(b, "u", k=16).withColumnRenamed("h", "bucket"))


def test_decontaminate_bloom_superset_of_exact(spark, sf_dir):
    """Bloom decontamination can only OVER-flag: every exactly
    contaminated doc appears with n_probable_hits >= its exact n_hits
    (no false negatives), and extra rows are false positives only."""
    from pyspark.sql import functions as F

    from sonnerie_spark.benchqueries import load_par
    from sonnerie_spark.operators.text import decontaminate, decontaminate_bloom

    docs = load_par(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    exact = {r["id"]: r["n_hits"] for r in decontaminate(docs, bench, k=8).collect()}
    bloom = {
        r["id"]: r["n_probable_hits"]
        for r in decontaminate_bloom(
            docs, bench, k=8, num_bits=1 << 16, num_hashes=4
        ).collect()
    }
    for i, n in exact.items():
        assert i in bloom and bloom[i] >= n, (i, n, bloom.get(i))


def test_sketch_param_guards(spark):
    """Sketch frames carry their build parameters as column metadata
    (survives select + parquet; aggregations drop it and constructors/
    merges re-attach). Probes and merges REFUSE mismatched parameters
    that would otherwise corrupt results silently: a wrong-num_bits
    Bloom probe produces FALSE NEGATIVES — the one failure mode the
    filter exists to exclude — and a wrong-width CMS merge produces
    valid-looking wrong counts."""
    import pytest as _pytest

    from sonnerie_spark.operators.sketch import (
        bloom_might_contain,
        bloom_sketch,
        cms_merge,
        cms_sketch,
        kmv_merge,
        kmv_sketch,
        sketch_params,
    )

    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], ["id", "v"])
    bf = bloom_sketch(df, "v", num_bits=1024, num_hashes=4)
    assert sketch_params(bf, "bits") == {"num_bits": 1024, "num_hashes": 4}
    with _pytest.raises(ValueError, match="num_bits=1024"):
        bloom_might_contain(df, bf, value="v", num_bits=4096)
    with _pytest.raises(ValueError, match="num_hashes"):
        bloom_sketch(df, "v", num_hashes=0)
    probed = bloom_might_contain(df, bf, value="v", num_bits=1024)
    with _pytest.raises(ValueError, match="might_contain"):
        bloom_might_contain(probed, bf, value="v", num_bits=1024)

    with _pytest.raises(ValueError, match="width"):
        cms_merge(
            cms_sketch(df, "v", width=1024), cms_sketch(df, "v", width=4096)
        )
    with _pytest.raises(ValueError, match="k="):
        kmv_merge(kmv_sketch(df, "v", k=16), kmv_sketch(df, "v", k=32), k=16)

    # parquet roundtrip keeps the recording (stores, saved sketches)
    import tempfile

    p = tempfile.mkdtemp() + "/bf"
    bf.write.parquet(p)
    assert sketch_params(spark.read.parquet(p), "bits")["num_bits"] == 1024


def test_bloom_store_incremental_replay_and_reopen(spark, tmp_path):
    """BloomStore: OR-merge across batches equals the one-shot filter,
    replaying any batch is a no-op (idempotent, no ledger needed), a
    reopened store adopts the persisted parameters and refuses
    explicit mismatches, and probes against the store never miss a
    member added in ANY batch."""
    import pytest as _pytest

    from sonnerie_spark.operators.sketch import BloomStore, bloom_sketch

    df = spark.createDataFrame(
        [(i, f"val{i}") for i in range(300)], ["id", "v"]
    )
    a, b = df.filter("id % 2 = 0"), df.filter("id % 2 = 1")
    store = BloomStore(spark, str(tmp_path / "bf"), num_bits=4096)
    store.add(a, "v")
    store.add(b, "v")
    store.add(b, "v")  # replay: OR is idempotent
    one = sorted(
        map(tuple, bloom_sketch(df, "v", num_bits=4096).collect())
    )
    got = sorted(map(tuple, store.sketch().collect()))
    assert got == one

    reopened = BloomStore(spark, str(tmp_path / "bf"))
    assert reopened.num_bits == 4096 and reopened.num_hashes == 4
    with _pytest.raises(ValueError, match="num_bits"):
        BloomStore(spark, str(tmp_path / "bf"), num_bits=8192)

    probed = reopened.might_contain(df, "v")
    assert probed.filter("NOT might_contain").count() == 0  # all members


def test_bloom_store_under_streaming_ingest(spark, ids, tmp_path):
    """foreachBatch micro-batches OR-merging into the BloomStore
    converge to the whole-corpus filter — the 'blocklist accumulated
    forever' shape, replay-safe without a ledger."""
    src = str(tmp_path / "arrivals")
    for i in range(3):
        ids.filter(F.crc32(F.col("v")) % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    store = sketch.BloomStore(spark, str(tmp_path / "bf_s"), num_bits=4096)

    def on_batch(batch_df, _bid):
        store.add(batch_df, "v")
        store.add(batch_df, "v")  # at-least-once retry: OR idempotent

    stream = (
        spark.readStream.schema(ids.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r["word_idx"], r["bits"]) for r in store.sketch().collect()}
    want = {
        (r["word_idx"], r["bits"])
        for r in sketch.bloom_sketch(ids, "v", num_bits=4096).collect()
    }
    assert got == want
    # and the stored filter never misses any value ever ingested
    probed = store.might_contain(ids, "v")
    assert probed.filter("NOT might_contain").count() == 0


def test_bloom_never_false_negative_property(spark):
    """Property sweep: for random member/probe splits across several
    (num_bits, num_hashes) shapes, every member probes True — the
    structural no-false-negative guarantee under parameter variation
    (hypothesis-style deterministic grid, not random seeds: the hash
    is content-stable so the corpus IS the randomness)."""
    from sonnerie_spark.operators.sketch import (
        bloom_might_contain,
        bloom_sketch,
    )

    rows = [(i, f"doc-{i * 2654435761 % 10007}") for i in range(211)]
    df = spark.createDataFrame(rows, ["id", "v"])
    for num_bits, num_hashes, mod in ((128, 1, 2), (1024, 4, 3), (8192, 7, 5)):
        members = df.filter(f"id % {mod} = 0")
        sk = bloom_sketch(
            members, "v", num_bits=num_bits, num_hashes=num_hashes
        )
        out = bloom_might_contain(
            df, sk, value="v", num_bits=num_bits, num_hashes=num_hashes
        )
        misses = out.filter(f"id % {mod} = 0 AND NOT might_contain").count()
        assert misses == 0, (num_bits, num_hashes, mod)


def test_bloom_probe_tolerates_duplicate_word_rows(spark):
    """A sketch frame holding duplicate word_idx rows (a raw
    unionByName of two filters that was never re-aggregated) must NOT
    multiply candidate rows through the k broadcast joins: the probe
    defensively collapses to one row per word first, so one row in ->
    one row out holds and the verdicts match the clean sketch's."""
    from sonnerie_spark.operators.sketch import (
        bloom_might_contain,
        bloom_sketch,
    )

    df = spark.createDataFrame(
        [(i, f"val{i}") for i in range(200)], ["id", "v"]
    )
    half_a = bloom_sketch(
        df.filter("id % 2 = 0 AND id % 3 = 0"), "v", num_bits=2048
    )
    half_b = bloom_sketch(
        df.filter("id % 2 = 1 AND id % 3 = 0"), "v", num_bits=2048
    )
    dirty = half_a.unionByName(half_b)  # duplicate word_idx rows
    out = bloom_might_contain(df, dirty, value="v", num_bits=2048)
    assert out.count() == 200, "duplicate word rows multiplied candidates"
    rows = {r["id"]: r["might_contain"] for r in out.collect()}
    assert all(rows[i] for i in range(0, 200, 3)), "false negative"

    clean = dirty.groupBy("word_idx").agg(
        __import__("pyspark").sql.functions.bit_or("bits").alias("bits")
    )
    ref = {
        r["id"]: r["might_contain"]
        for r in bloom_might_contain(
            df, clean, value="v", num_bits=2048
        ).collect()
    }
    assert rows == ref


def test_bloom_store_rebuild_shrinks_blocklist(spark, tmp_path):
    """rebuild() replaces the accumulated filter with a fresh sketch of
    the new source of truth: members removed from the source stop
    probing True (modulo FP rate), parameters persist unchanged, and a
    subsequent add() keeps OR-merging onto the rebuilt generation."""
    from pyspark.sql import functions as F

    from sonnerie_spark.operators.sketch import BloomStore, bloom_sketch

    df = spark.createDataFrame(
        [(i, f"url{i}") for i in range(300)], ["id", "v"]
    )
    path = str(tmp_path / "bloom_rb")
    st = BloomStore(spark, path, num_bits=4096, num_hashes=4)
    st.add(df, F.col("v"))  # everything blocked
    assert all(
        r["might_contain"]
        for r in st.might_contain(df, F.col("v")).collect()
    )

    # the blocklist shrinks: only ids < 100 remain banned
    st.rebuild(df.filter("id < 100"), F.col("v"))
    rows = {r["id"]: r["might_contain"]
            for r in st.might_contain(df, F.col("v")).collect()}
    assert all(rows[i] for i in range(100)), "false negative after rebuild"
    fp = sum(1 for i in range(100, 300) if rows[i])
    assert fp <= 6, f"rebuild did not shrink the filter (fp={fp})"
    # bitwise: the store now equals the one-shot sketch of the source
    want = sorted(
        map(tuple, bloom_sketch(
            df.filter("id < 100"), "v", num_bits=4096
        ).collect())
    )
    assert sorted(map(tuple, st.sketch().collect())) == want

    # reopen adopts persisted params; add keeps working post-rebuild
    st2 = BloomStore(spark, path)
    assert st2.num_bits == 4096 and st2.num_hashes == 4
    st2.add(df.filter("id >= 250"), F.col("v"))
    rows2 = {r["id"]: r["might_contain"]
             for r in st2.might_contain(df, F.col("v")).collect()}
    assert all(rows2[i] for i in range(100))
    assert all(rows2[i] for i in range(250, 300))


def test_dd_ledger_compression_and_legacy():
    """The DdStore applied-id ledger compresses the contiguous prefix
    to one integer (O(gaps) persisted size for a monotonic epoch
    stream), reads the legacy full-list form, and loses NO information
    for sparse multi-writer id spaces."""
    from sonnerie_spark.operators.sketch import _ledger_dump, _ledger_parse

    # legacy list with a contiguous prefix and a gap
    upto, extras = _ledger_parse([0, 1, 2, 5, 7])
    assert (upto, extras) == (2, {5, 7})
    # filling the gap advances the watermark through the extras
    extras.add(3)
    extras.add(4)
    assert _ledger_parse(_ledger_dump(upto, extras)) == (5, {7})
    # a monotonic stream stays O(1): one integer, no extras
    u, e = -1, set()
    for bid in range(10_000):
        e.add(bid)
        while u + 1 in e:
            u += 1
            e.discard(u)
    assert (u, e) == (9_999, set())
    # disjoint multi-writer spaces (the store_soak shape) stay exact
    assert _ledger_parse([1000, 1001, 2000]) == (-1, {1000, 1001, 2000})
    # round-trip of the new form
    assert _ledger_parse(_ledger_dump(9, {20})) == (9, {20})


def test_sketch_builders_drop_null_values(spark):
    """NULL values carry no identity: every builder must drop them.
    Unfiltered, a null hash forms spurious bucket=NULL / col=NULL /
    word_idx=NULL rows — in HLL it corrupts the estimator's zeros term
    (and can push zeros NEGATIVE, a log() domain error), and in KMV
    the null sorts FIRST in Spark but LAST in DuckDB, so the
    bit-identical oracle diverges while the null displaces a real hash
    from the bottom-k."""
    vals = spark.createDataFrame(
        [(f"v{i}",) for i in range(40)] + [(None,)] * 3, "v string"
    )
    clean = vals.filter(F.col("v").isNotNull())

    for build, kw in (
        (sketch.hll_sketch, dict(bucket_bits=4)),
        (sketch.cms_sketch, dict(depth=2, width=64)),
        (sketch.bloom_sketch, dict(num_bits=512, num_hashes=2)),
        (sketch.kmv_sketch, dict(k=8)),
    ):
        with_nulls = sorted(
            map(tuple, build(vals, "v", **kw).collect())
        )
        without = sorted(map(tuple, build(clean, "v", **kw).collect()))
        assert with_nulls == without, build.__name__
        assert all(None not in t for t in with_nulls), build.__name__

    # the crash case: 40 distinct values over m=16 buckets + nulls used
    # to make zeros negative inside hll_estimate
    est = sketch.hll_estimate(
        sketch.hll_sketch(vals, "v", bucket_bits=4), bucket_bits=4
    )
    assert est > 0

    # grouped variant drops nulls too
    g = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None)], "grp string, v string"
    )
    rows = sketch.hll_sketch_grouped(g, "grp", "v", bucket_bits=4).collect()
    assert {r["grp"] for r in rows} == {"a"}  # b had only nulls


def test_cms_topk_tolerates_raw_unioned_sketch(spark):
    """cms_topk must sum-collapse duplicate (row, col) rows first: a
    raw unionByName of two partial sketches (not yet cms_merge'd) is
    additive per counter, and an uncollapsed min() would UNDERESTIMATE
    — breaking CMS's one-sided error guarantee."""
    data = [("hot",)] * 50 + [(f"cold{i}",) for i in range(10)]
    df = spark.createDataFrame(data, "v string")
    # split by rows, not values: both halves see 'hot'
    a = spark.createDataFrame(data[:30], "v string")
    b = spark.createDataFrame(data[30:], "v string")
    sa = sketch.cms_sketch(a, "v", depth=2, width=64)
    sb = sketch.cms_sketch(b, "v", depth=2, width=64)
    merged = sketch.cms_merge(sa, sb)
    raw_union = sa.unionByName(sb)
    cands = df.select("v").distinct()
    top_merged = sorted(
        map(tuple, sketch.cms_topk(
            cands, merged, k=3, depth=2, width=64
        ).collect())
    )
    top_raw = sorted(
        map(tuple, sketch.cms_topk(
            cands, raw_union, k=3, depth=2, width=64
        ).collect())
    )
    assert top_raw == top_merged
    hot_est = dict((v, e) for v, e in top_raw)["hot"]
    assert hot_est >= 50  # never-underestimate held across the union


def test_stores_persist_and_validate_params(spark, tmp_path):
    """HllStore and DdStore persist their parameters at creation
    (BloomStore's params.json rule) and REFUSE a mismatched reopen —
    silently merging sketches built under different bucket_bits /
    relative_accuracy corrupts every downstream estimate with no
    error. None adopts the persisted values."""
    from sonnerie_spark.operators.sketch import DdStore

    h = sketch.HllStore(spark, str(tmp_path / "h"), bucket_bits=6)
    assert sketch.HllStore(spark, str(tmp_path / "h")).bucket_bits == 6
    assert (
        sketch.HllStore(spark, str(tmp_path / "h"), bucket_bits=6)
        .bucket_bits == 6
    )
    with pytest.raises(ValueError, match="bucket_bits"):
        sketch.HllStore(spark, str(tmp_path / "h"), bucket_bits=8)

    d = DdStore(spark, str(tmp_path / "d"), relative_accuracy=0.02)
    re_d = DdStore(spark, str(tmp_path / "d"))
    assert re_d.relative_accuracy == 0.02 and re_d.min_value == 1e-9
    with pytest.raises(ValueError, match="relative_accuracy"):
        DdStore(spark, str(tmp_path / "d"), relative_accuracy=0.01)
    with pytest.raises(ValueError, match="min_value"):
        DdStore(spark, str(tmp_path / "d"), min_value=1e-6)


def test_transient_read_error_never_destroys_a_generation(
    spark, tmp_path, monkeypatch
):
    """Only corruption signals roll a store back to its backup: a
    transient read error (EACCES here; EMFILE/EIO likewise arrive as
    other OSErrors) propagates, leaves the current generation and its
    backup byte-for-byte untouched, and the next read succeeds."""
    import os

    import pyarrow.parquet as pq

    from sonnerie_spark.operators.sketch import BloomStore, DdStore, HllStore

    df = spark.createDataFrame(
        [(f"g{i % 3}", float(i % 7 + 1), f"v{i}") for i in range(40)],
        "g string, x double, v string",
    )
    a, b = df.filter("x <= 3"), df.filter("x > 3")
    hll = HllStore(spark, str(tmp_path / "hll"))
    bf = BloomStore(spark, str(tmp_path / "bf"), num_bits=1024)
    dd = DdStore(spark, str(tmp_path / "dd"))
    cases = [
        (hll, lambda: (hll.add(a, "g", "v"), hll.add(b, "g", "v")),
         lambda: sorted(map(tuple, hll.sketches().collect()))),
        (bf, lambda: (bf.add(a, "v"), bf.add(b, "v")),
         lambda: sorted(map(tuple, bf.sketch().collect()))),
        (dd, lambda: (dd.add(0, a, "g", "x"), dd.add(1, b, "g", "x")),
         lambda: (dd.applied(), sorted(map(tuple, dd.sketches().collect())))),
    ]

    def snapshot(root):
        out = {}
        for r, _dirs, files in os.walk(root):
            for f in files:
                if f != ".lock":
                    with open(os.path.join(r, f), "rb") as fh:
                        out[os.path.relpath(os.path.join(r, f), root)] = fh.read()
        return out

    real = pq.read_table
    for store, fill, read in cases:
        fill()  # two generations: the current one plus a backup
        assert any(".old-" in n for n in os.listdir(store.path))
        want, before = read(), snapshot(store.path)
        failed = []

        def flaky(*a, **k):
            if not failed:
                failed.append(1)
                raise PermissionError(13, "simulated transient EACCES")
            return real(*a, **k)

        monkeypatch.setattr(pq, "read_table", flaky)
        with pytest.raises(PermissionError):
            read()
        monkeypatch.setattr(pq, "read_table", real)
        assert snapshot(store.path) == before, type(store).__name__
        assert read() == want
