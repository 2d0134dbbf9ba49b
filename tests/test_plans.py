"""Physical-plan assertions: the optimizations SURVEY §4 says must come
from Catalyst/Parquet actually appear in the plans.

These are the scale guarantees: a filter that is not in PushedFilters
re-reads every row group at 100 TB; a star join that does not broadcast
its dims shuffles the fact table five times.
"""

import pytest

from sonnerie_spark.db import Database


@pytest.fixture()
def db(spark, tmp_path):
    db = Database(spark, str(tmp_path / "db"))
    tx = db.create_tx()
    for i in range(100):
        tx.add_record(f"key{i:03d}", 1000 + i, "u", [i])
    tx.commit()
    return db


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_key_predicate_pushed_to_parquet(db):
    df = db.read(key="key042")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    # the equality predicate must reach the scan, not sit in a Filter above it
    assert "EqualTo(key,key042)" in plan.replace(" ", ""), plan


def test_prefix_wildcard_becomes_pushed_range(db):
    df = db.read(wildcard="key04%")
    plan = formatted_plan(df)
    squashed = plan.replace(" ", "")
    assert "GreaterThanOrEqual(key,key04)" in squashed, plan
    assert "LessThan(key,key05)" in squashed, plan


def test_time_predicate_pushed_to_parquet(db):
    df = db.read(after_ns=1050, before_ns=1060)
    squashed = formatted_plan(df).replace(" ", "")
    assert "GreaterThanOrEqual(ts,1050)" in squashed
    assert "LessThan(ts,1060)" in squashed


def test_projection_prunes_read_schema(db):
    df = db.read(key="key001").select("key", "ts")
    plan = formatted_plan(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "v_str" not in read_schema and "v_bin" not in read_schema, read_schema


def test_single_run_skips_dedup_stage(db):
    # one data run -> no (key, ts) aggregation in the plan at all
    plan = formatted_plan(db.read())
    assert "max_by" not in plan and "Aggregate" not in plan, plan


def test_multi_run_dedup_is_partial_aggregation(db):
    tx = db.create_tx()
    tx.add_record("key000", 1000, "u", [999])
    tx.commit()
    plan = formatted_plan(db.read())
    # map-side combine BEFORE the exchange (shuffle carries <=1 row per
    # (key, ts) per input partition), and no sort-the-world window
    # (a partial_* aggregate is by construction the map-side pass that
    # runs before the Exchange in Spark's two-phase aggregation)
    assert "partial_max(struct(_txid" in plan, plan
    assert "Window" not in plan, plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    from sonnerie_spark.benchqueries import q_region_revenue

    plan = plan_of(q_region_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_whole_stage_codegen_covers_scan_filter(db):
    df = db.read(key="key042")
    gen = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "Found 1 WholeStageCodegen subtrees" in gen or "WholeStageCodegen" in gen, gen

def test_commit_duplicate_check_adds_no_exchange(spark, db):
    """The duplicate-check window in _prepare_run must ride the commit's
    bucket partitioning: HashPartitioning(key, B) satisfies the window's
    ClusteredDistribution(key), so the checked plan has exactly the one
    Exchange the unchecked plan has (verdict item 7: no extra shuffle or
    job per commit)."""
    rows = spark.createDataFrame(
        [(f"k{i}", 1000 + i, "u", [i], None, None, None) for i in range(10)],
        "key string, ts long, fmt string, v_long array<long>, "
        "v_double array<double>, v_str array<string>, v_bin array<binary>",
    )
    unchecked, obs0 = db._prepare_run(rows, check_duplicates=False)
    checked, obs = db._prepare_run(rows, check_duplicates=True)
    assert obs0 is None and obs is not None
    n_unchecked = plan_of(unchecked).count("Exchange")
    n_checked = plan_of(checked).count("Exchange")
    assert n_checked == n_unchecked == 1, plan_of(checked)
    assert "Window" in plan_of(checked)


def test_bucketed_export_join_has_no_exchange(spark, db, tmp_path):
    """export_bucketed persists the key hash-partitioning: a self-join
    on key over the exported table must run with zero Exchange nodes
    (the partitioning is reused across stages instead of reshuffled)."""
    db.export_bucketed(
        "bktest", num_buckets=4, path=str(tmp_path / "bktest")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must pick a partitioned strategy
        # (on tiny data broadcast wins; at scale bucketing is the point)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table("bktest")
        joined = t.alias("a").join(t.alias("b"), "key").groupBy("key").count()
        plan = plan_of(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bktest")


def test_multi_run_read_has_no_exchange(spark, tmp_path):
    """THE scale guarantee of the bucketed run layout (bucketing.py):
    with several runs, the LWW dedup is bucket-local — the bucketed
    scan's HashPartitioning(key, B) satisfies the aggregation's
    clustering, so the read plan contains ZERO Exchange nodes (vs the
    measured 15x full-shuffle cliff of the legacy layout, SCALE.md)."""
    db = Database(spark, str(tmp_path / "db"))
    for r in range(3):
        tx = db.create_tx()
        for i in range(50):
            tx.add_record(f"key{i:03d}", 1000 + r, "u", [i])
        tx.commit()
    assert len(db.data_runs()) == 3
    df = db.read()
    plan = plan_of(df)
    assert "Bucketed: true" in plan, plan
    assert "Exchange" not in plan, plan
    assert "max(struct(_txid" in plan, plan  # the dedup is still in the plan
    assert df.count() == 50 * 3 - 0  # distinct (key, ts) pairs survive


def test_multi_run_key_lookup_prunes_buckets(spark, tmp_path):
    """An exact-key filter over the bucketed multi-run view must scan
    only the key's own bucket (SelectedBucketsCount 1 out of B)."""
    db = Database(spark, str(tmp_path / "db"))
    for r in range(2):
        tx = db.create_tx()
        for i in range(50):
            tx.add_record(f"key{i:03d}", 1000 + r, "u", [i])
        tx.commit()
    plan = formatted_plan(db.read(key="key007"))
    assert "SelectedBucketsCount: 1 out of" in plan, plan


def test_compaction_of_bucketed_runs_adds_no_exchange(spark, tmp_path):
    """Compaction reads bucketed runs and writes bucket-aligned: the
    merge rewrite is a zero-shuffle plan (read k files per bucket ->
    dedup in place -> write one file per bucket)."""
    db = Database(spark, str(tmp_path / "db"))
    for r in range(3):
        tx = db.create_tx()
        for i in range(50):
            tx.add_record(f"key{i:03d}", 1000 + r, "u", [i])
        tx.commit()
    df, bucket_aligned = db._merged_view(db.data_runs(), [])
    assert bucket_aligned
    assert "Exchange" not in plan_of(df)
    db.compact()
    assert len(db.data_runs()) == 1
    assert db.read().count() == 150


def test_python_murmur3_matches_jvm(spark):
    """bucketing.spark_murmur3_str must be bit-exact with Spark hash()
    (seed 42) — the pyarrow write path depends on it for bucket ids."""
    from pyspark.sql import functions as F

    from sonnerie_spark.bucketing import bucket_of, spark_murmur3_str

    samples = ["", "a", "ab", "abc", "abcd", "key007", "fib", "x" * 37,
               "üñïçødé-ключ", "k\U0001F600", "tx.0123456789abcdef"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: (r["h"], r["b"]) for r in df.select(
        "s", F.hash("s").alias("h"), F.pmod(F.hash("s"), F.lit(7)).alias("b")
    ).collect()}
    for s in samples:
        assert got[s] == (spark_murmur3_str(s), bucket_of(s, 7)), s


def test_ngram_max_df_cap_visible_in_plan(spark, sf_dir):
    """The corpus-scale max_df cap must be a real plan node — a filter on
    posting-list size BEFORE pair enumeration — not a post-hoc prune of
    the already-exploded quadratic pair stream."""
    from sonnerie_spark.benchqueries import q_dedup_ngram_jaccard_capped

    df = q_dedup_ngram_jaccard_capped(spark, sf_dir)
    plan = plan_of(df).replace(" ", "")
    assert "size(ids" in plan and "<=64" in plan, plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The eval-set side of decontamination must arrive by broadcast —
    a shuffle join keyed on shingles would move the full corpus shingle
    stream over the network at 100 TB for a benchmark that is tiny by
    definition."""
    from sonnerie_spark.benchqueries import q_decontaminate_benchmark

    plan = plan_of(q_decontaminate_benchmark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_all_bound_kinds_pushed_to_parquet(db):
    """Every Bound kind is a plain string comparison, so each must reach
    PushedFilters — incl/excl bounds that sat in a post-scan Filter
    would re-read every row group at 100 TB."""
    df = db.read(after_key_excl="key010", before_key_incl="key090")
    squashed = formatted_plan(df).replace(" ", "")
    assert "GreaterThan(key,key010)" in squashed, squashed
    assert "LessThanOrEqual(key,key090)" in squashed, squashed


def test_keys_reader_no_exchange_on_bucketed_runs(spark, tmp_path):
    """keys() over a bucketed multi-run layout: the distinct rides the
    scan's HashPartitioning(key, B) — no Exchange before the aggregate
    (the global orderBy for sorted output is the only later movement)."""
    db = Database(spark, str(tmp_path / "db"))
    for r in range(2):
        tx = db.create_tx()
        for i in range(40):
            tx.add_record(f"key{i:03d}", 1000 + r, "u", [i])
        tx.commit()
    plan = plan_of(db.keys())
    pre_sort = plan.split("Sort", 1)[-1]  # everything below the output sort
    assert "Exchange hashpartitioning" not in pre_sort, plan
    assert [r.key for r in db.keys().collect()][:2] == ["key000", "key001"]


def test_tfidf_aggs_are_partial(spark, sf_dir):
    """tfidf's two counting aggs (tf, df) must plan map-side partials —
    at corpus scale the postings shuffle carries pre-combined rows."""
    from sonnerie_spark.benchqueries import load_par
    from sonnerie_spark.operators import text as textops

    df = textops.tfidf_top_terms(
        load_par(spark, sf_dir, "documents"), "doc_id", "text"
    )
    plan = plan_of(df)
    assert plan.count("partial_count") >= 2, plan


def test_mix_sources_broadcasts_dims(spark, sf_dir):
    """Corpus mixing: ONE broadcast dim carries both the per-source
    counts and the scalar min (the min rides an unpartitioned window
    over the per-source table — r12: the old crossJoin(min agg) shape
    evaluated the corpus count aggregation once per broadcast build);
    the corpus side joins with no shuffle of its own rows."""
    from pyspark.sql import functions as F

    from sonnerie_spark.benchqueries import load_par
    from sonnerie_spark.operators import sampling

    docs = load_par(spark, sf_dir, "documents")
    df = sampling.mix_sources_uniform(docs, "lang", "doc_id")
    plan = plan_of(df)
    assert plan.count("BroadcastExchange") == 1, plan
    # the corpus stream itself must not be hash-repartitioned for the join
    assert "Exchange hashpartitioning(id" not in plan, plan
    # single evaluation of the count aggregation: the corpus appears
    # exactly twice in the plan (the map-only filtered stream + the one
    # aggregated dim build), not three times
    assert plan.count("documents.parquet") == 2, plan
    # and the window that derives the min must sit on the aggregated
    # per-source rows (tiny), visible as a Window above HashAggregate
    assert "Window" in plan, plan


def test_repetition_stats_is_map_only(spark, sf_dir):
    """repetition_stats (r12): the per-doc top-gram statistic must not
    shuffle the corpus n-gram stream — no explode (Generate) and no
    hash-partitioned Exchange anywhere in the plan. The only exchange
    permitted is load_par's round-robin spread of the unsplittable
    gate-scale input."""
    from sonnerie_spark.benchqueries import load_par
    from sonnerie_spark.operators import text as textops

    df = textops.repetition_stats(
        load_par(spark, sf_dir, "documents"), "doc_id", "text", n=2
    )
    plan = plan_of(df)
    assert "Generate" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    # single evaluation of the gram build / sort / fold per row — a
    # filter on a derived count re-duplicates the build below the
    # projection (measured 4.4x slower than the shuffle shape). Upper
    # bounds, not equality: the duplication regression shows as a count
    # >= 2, while an engine upgrade that renames the printed expression
    # (count 0) must not fail the pin (ADVICE r12) — map-only-ness is
    # already held by the absence asserts above.
    assert plan.count("transform(") <= 1, plan
    assert plan.count("array_sort") <= 1, plan
    assert plan.count("aggregate(") <= 1, plan


def test_split_leakage_attaches_splits_map_only(spark, sf_dir):
    """split_leakage (r12): the split assignment is a pure function of
    the id, so it must ride the pair stream as an expression — the old
    shape joined two broadcast copies of the split table, re-scanning
    the corpus twice and building a corpus-row-count broadcast per side
    (impossible at 100 TB). Corpus scanned exactly once, zero broadcast
    joins."""
    from sonnerie_spark.benchqueries import REGISTRY

    d = next(x for x in REGISTRY if x.name == "split_leakage")
    plan = plan_of(d.spark(spark, sf_dir))
    assert plan.count("BroadcastExchange") == 0, plan
    assert plan.count("documents.parquet") == 1, plan


def test_dirty_key_set_prunes_buckets(spark, tmp_path):
    """The rollup refresh's dirty-key pushdown depends on this: a key
    SET passed to read(keys=) must select only those keys' buckets
    (SelectedBucketsCount < B). The same isin applied ON TOP of read()
    does NOT bucket-prune (Catalyst won't re-derive it through the LWW
    aggregate) — asserted too, as the reason read(keys=) exists."""
    import re

    from pyspark.sql import functions as F

    db = Database(spark, str(tmp_path / "db"))
    for batch in range(2):  # 2 runs -> bucketed-view read path
        tx = db.create_tx()
        for i in range(64):
            tx.add_record(f"key{i:03d}", 1000 + batch, "u", [i])
        tx.commit()
    want = ["key001", "key002", "key003"]

    plan = formatted_plan(db.read(keys=want))
    line = next(l for l in plan.splitlines() if "SelectedBucketsCount" in l)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", line)
    assert m and int(m.group(1)) <= 3 < int(m.group(2)), line

    above = formatted_plan(db.read().filter(F.col("key").isin(want)))
    line2 = next(l for l in above.splitlines() if "SelectedBucketsCount" in l)
    m2 = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", line2)
    assert m2 and int(m2.group(1)) == int(m2.group(2)), line2


def test_quantize_int8_is_map_only(spark, sf_dir):
    """Quantization must stream at scan speed: no Exchange anywhere in
    the plan (the per-vector scale is a row-local array expression)."""
    from sonnerie_spark.operators.similarity import quantize_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", __import__("pyspark.sql.functions", fromlist=["col"]).col(
            "embedding"
        ).cast("array<double>").alias("embedding")
    )
    plan = plan_of(quantize_int8(emb, "vec_id", "embedding"))
    assert "Exchange" not in plan, plan


def test_cap_per_group_under_branch_has_no_window(spark, sf_dir):
    """The under-cap branch must keep wholesale — no rank window, no
    per-group sort; only the over-cap branch sorts. Assert by building
    the branches on data where every/ no group overflows."""
    from sonnerie_spark.operators.sampling import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # cap above every group size: the over branch is empty and AQE can
    # skip its window at runtime; statically, the plan's Window feeds
    # only the filtered over-cap side (union of two branches).
    plan = plan_of(cap_per_group(docs, "lang", "doc_id", max_per_group=10**9))
    assert "Union" in plan
    assert plan.count("Window") == 1  # exactly one branch ranks


def test_deterministic_shuffle_no_single_partition_exchange(spark, sf_dir):
    """The global rank must never serialize the corpus into one task:
    no `Exchange SinglePartition` (the signature of a bare global
    window) anywhere; the sort is range-partitioned."""
    from sonnerie_spark.operators.sampling import deterministic_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = deterministic_shuffle(docs, "doc_id", num_partitions=4)
    # out is localCheckpointed; assert on the checkpoint's parent plan by
    # rebuilding the unmaterialized pipeline pieces instead
    from pyspark.sql import Window, functions as F

    from sonnerie_spark.functions.portable_hash import phash

    key = phash(F.concat(F.lit("shuffle#"), F.col("doc_id").cast("string")))
    s = (
        docs.select(F.col("doc_id").alias("id"), key.alias("sort_key"))
        .repartitionByRange(4, "sort_key", "id")
        .sortWithinPartitions("sort_key", "id")
        .withColumn("pid", F.spark_partition_id())
    )
    w = Window.partitionBy("pid").orderBy("sort_key", "id")
    ranked = s.withColumn("pos", F.row_number().over(w))
    plan = plan_of(ranked)
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan
    # and the materialized result is correct-size
    assert out.count() == docs.count()


def test_chunk_documents_is_map_only(spark, sf_dir):
    """Chunking must stream at scan speed: no Exchange anywhere (window
    starts + slices are row-local array expressions)."""
    from sonnerie_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(chunk_documents(docs, "doc_id", "text", chunk_tokens=8, stride=4))
    assert "Exchange" not in plan, plan


def test_multicol_rollup_aggregate_single_shuffle(spark, tmp_path):
    """num_values=m rides ONE hash aggregation: exactly one Exchange in
    the aggregate plan however many value columns are rolled up (4m agg
    buffers, not m passes)."""
    from sonnerie_spark.db import Database
    from sonnerie_spark.streaming.rollup import ContinuousRollup

    db = Database(spark, str(tmp_path / "db"))
    tx = db.create_tx()
    for i in range(4):
        tx.add_record("k", 1000 + i, "FFF", [1.0 * i, 2.0 * i, 3.0 * i])
    tx.commit()
    roll = ContinuousRollup(
        db, str(tmp_path / "r"), interval_ns=10, num_values=3
    )
    plan = plan_of(roll._aggregate(db.read()))
    assert plan.count("Exchange") == 1, plan


def test_driver_window_unknown_name_is_hard_error():
    """A _DRIVER_WINDOW name with no registered gate must raise at
    reorder time — a silent skip would shrink the driver-certified set
    with no signal (ADVICE r5)."""
    import pytest

    from sonnerie_spark import benchqueries as bq

    assert len(bq._DRIVER_WINDOW) == 50
    assert [d.name for d in bq.REGISTRY[:50]] == list(bq._DRIVER_WINDOW)
    saved = list(bq._DRIVER_WINDOW)
    try:
        bq._DRIVER_WINDOW.append("gate_that_does_not_exist")
        with pytest.raises(RuntimeError, match="gate_that_does_not_exist"):
            bq._reorder_registry()
    finally:
        bq._DRIVER_WINDOW[:] = saved
        bq._reorder_registry()


def test_gates_release_their_caches():
    """No gate may persist() a stage boundary: cached blocks live in
    storage memory until the async ContextCleaner drains behind a JVM
    GC, which made composite wall-time depend on session history twice
    (r6 verdict: flagship re-ran 1.76x; r9 verdict: v4 at 1.86x in the
    driver session DESPITE the between-query release). Stage
    boundaries spill to parquet (_spill_boundary — off-heap,
    deterministic release) and composites return through
    _finish_composite, which deletes the spills after blockifying the
    result."""
    import inspect

    from sonnerie_spark import benchqueries as bq

    import re

    # operators that persist() internally and offer a materialize=True
    # release path (their default lazy return relies on ContextCleaner)
    persisting_ops = ("repeated_spans", "dedup_substrings",
                      "simhash_near_pairs")
    for d in bq.REGISTRY:
        src = inspect.getsource(d.spark)
        assert ".persist()" not in src, (
            f"gate {d.name!r} persists a stage boundary - spill it "
            "via _spill_boundary and return via _finish_composite"
        )
        if "_spill_boundary(" in src:
            assert "_finish_composite(" in src or "_pipeline(" in src, (
                f"gate {d.name!r} spills without routing its result "
                "through _finish_composite (spill dirs would leak)"
            )
        for op in persisting_ops:
            for m in re.finditer(rf"\b{op}\(", src):
                # balanced-paren scan extracts the (possibly
                # multi-line) call; it must pass materialize=True
                end = None
                depth = 0
                for i in range(m.end() - 1, len(src)):
                    if src[i] == "(":
                        depth += 1
                    elif src[i] == ")":
                        depth -= 1
                        if depth == 0:
                            end = i
                            break
                assert end is not None, (d.name, op, "unbalanced call")
                call = src[m.start():end + 1]
                assert "materialize=True" in call, (
                    f"gate {d.name!r} calls {op} (which persists "
                    "internally) without materialize=True - its cache "
                    "would leak past the gate"
                )


def test_no_transcendental_in_any_oracle():
    """No hashed gate value may contain a transcendental: ln/log/exp
    and fractional-exponent pow are the IEEE ops that are NOT required
    to be correctly rounded, so JVM vs libm can differ 1 ulp and flip a
    quantizing floor (the r6 bm25_topk driver-red). The safe set is
    +, -, *, /, sqrt — all correctly rounded everywhere. The one
    allowed appearance is power(2.0, <integer>), which is exact
    (a representable power of two) in any engine (hll oracle)."""
    import re

    from sonnerie_spark import benchqueries as bq

    allowed = re.compile(r"power\(2\.0,\s*[a-z0-9_]+\)")
    banned = re.compile(r"\b(ln|log|log2|log10|exp|pow|power)\s*\(", re.I)
    for d in bq.REGISTRY:
        if d.oracle is None:
            continue
        sql = allowed.sub("", d.oracle)
        m = banned.search(sql)
        assert m is None, (
            f"oracle for {d.name!r} uses transcendental {m.group(0)!r}: "
            "not correctly rounded cross-engine - use ln_cr/ln_cr_sql "
            "(text.py) or a log-free monotone surrogate"
        )


def test_single_run_dedup_elided_only_with_unique_marker(db, spark, tmp_path):
    """The hot single-run scan plans NO aggregation when the run carries
    the _U duplicate-free marker; stripping the marker (legacy or
    unverified check_duplicates=False run) plans the same LWW dedup a
    multi-run read would — reads never return two rows per (key, ts).
    A handle classifies a listed run once per swap epoch, so the live
    handle sees the in-place strip once ``runs_edited`` announces it; a
    new handle sees it on its first listing."""
    import os

    plan = plan_of(db.read())
    assert "Aggregate" not in plan, plan  # _U present: plain scan

    run = db.data_runs()[0]
    os.remove(os.path.join(run.path, "_U"))
    db.runs_edited()
    assert not db.data_runs()[0].unique
    plan2 = plan_of(db.read())
    assert "Aggregate" in plan2, plan2  # unverified: LWW dedup planned
    plan3 = plan_of(Database(spark, db.path).read())
    assert "Aggregate" in plan3, plan3


def test_bm25_broadcasts_query_sides_no_corpus_smj(spark, sf_dir):
    """bm25_topk: every query-bounded side (query terms, query
    vocabulary, per-term df, corpus stats) arrives BROADCAST — the
    corpus postings stream is never sort-merge-joined, so the only
    corpus shuffles are the postings agg and the matched (q, doc)
    agg."""
    from pyspark.sql import functions as F

    from sonnerie_spark.benchqueries import load_par
    from sonnerie_spark.operators.text import bm25_topk, tokens

    docs = load_par(spark, sf_dir, "documents")
    qdf = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(tokens(F.col("text")), 1, 5), " ").alias(
            "q_text"
        ),
    )
    plan = plan_of(bm25_topk(docs, qdf, top_k=5))
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_budget_mix_is_map_only_past_totals_agg(spark, sf_dir):
    """budget_mix: the per-source token totals are the only aggregation,
    they arrive broadcast, and the corpus stream is never repartitioned
    for the join — the keep filter is map-side."""
    from pyspark.sql import functions as F

    from sonnerie_spark.benchqueries import load_par
    from sonnerie_spark.operators.sampling import budget_mix
    from sonnerie_spark.operators.text import tokens

    docs = load_par(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    plan = plan_of(
        budget_mix(
            docs, "source", "doc_id", "n_tokens",
            budget=10_000, weights={"src0": 1, "src1": 1},
        )
    )
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the corpus stream itself must not be hash-repartitioned
    assert "Exchange hashpartitioning(doc_id" not in plan, plan


# ---------------------------------------------------------------------------
# Oracle result-TYPE parity (the r7 bm25_topk driver-red class)


def _tools_path():
    import os
    import sys

    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    if p not in sys.path:
        sys.path.insert(0, p)


def test_oracle_type_parity_registry_wide(spark, sf_dir):
    """Every oracle's bound DuckDB column types must be IDENTICAL to the
    Spark result schema under the canonical lattice — including
    int32-vs-int64 splits the driver happens to tolerate today
    (tolerance must never be load-bearing). The r7 ``bm25_topk``
    driver-red was an uncast ``sum(BIGINT)`` that DuckDB widens to
    HUGEINT (int128) while Spark stays BIGINT: every VALUE identical,
    the typed driver hash flipped on the width, and the value-level
    local checker could not see it for two rounds. This test binds all
    134 oracles (no execution on the DuckDB side; Spark side is the
    lazily-built DataFrame) and fails on any width anywhere."""
    _tools_path()
    from type_parity import scan

    bad = {name: mm for name, mm in scan(sf_dir) if mm}
    assert not bad, f"oracle/Spark type mismatches: {bad}"


def test_type_parity_catches_uncast_hugeint(sf_dir):
    """Negative control: bm25_topk's oracle WITHOUT the
    ``cast(sum(c_q6) AS BIGINT)`` must be flagged as int128-vs-int64 —
    i.e. the parity lattice actually detects the exact bug that was
    driver-red in r6/r7."""
    import duckdb

    _tools_path()
    from type_parity import TABLES, canon_duck

    from sonnerie_spark import benchqueries as bq

    oracle = next(d.oracle for d in bq.REGISTRY if d.name == "bm25_topk")
    assert "cast(sum(c_q6) AS BIGINT)" in oracle, "cast is gone — update test"
    uncast = oracle.replace("cast(sum(c_q6) AS BIGINT)", "sum(c_q6)")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rel = con.sql(uncast)
    types = {c: canon_duck(t) for c, t in zip(rel.columns, rel.types)}
    assert types["score_q6"] == "int128", types  # Spark emits int64 -> mismatch
    fixed = con.sql(oracle)
    ftypes = {c: canon_duck(t) for c, t in zip(fixed.columns, fixed.types)}
    assert ftypes["score_q6"] == "int64", ftypes
