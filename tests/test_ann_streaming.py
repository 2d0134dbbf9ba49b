"""IVF ANN operator tests (metamorphic: full probing == brute force)
and the stateful streaming running-stats operator."""

import pytest

from pyspark.sql import functions as F

from sonnerie_spark.operators import dedup, similarity
from sonnerie_spark.streaming.ingest import stateful_running_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_assign_is_argmax_cosine(spark, emb):
    """Each vector's assigned centroid is the true max-cosine centroid
    (ties to lowest id) — checked against an explicit cross-join argmax."""
    got = {r.id: (r.centroid_id, r.centroid_cosine) for r in
           similarity.ivf_assign(emb, num_centroids=4).collect()}
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    brute = (
        emb.crossJoin(cents)
        .select(
            "vec_id",
            "cid",
            F.round(similarity.cosine(F.col("embedding"), F.col("ce")), 6).alias("cos"),
        )
        .collect()
    )
    best = {}
    for r in brute:
        cur = best.get(r.vec_id)
        if cur is None or (r.cos, -r.cid) > (cur[1], -cur[0]):
            best[r.vec_id] = (r.cid, r.cos)
    assert got == best


def test_ivf_full_probe_equals_brute_force(spark, emb):
    """With nprobe == num_centroids every list is searched, so IVF must
    return exactly the brute-force top-k (same rounding, same ties)."""
    probes = emb.filter(F.col("vec_id") < 3)
    ivf = similarity.ivf_topk(emb, probes, num_centroids=4, nprobe=4, k=3)
    brute = similarity.cosine_topk(emb, probes, k=3)
    key = lambda r: (r.probe_id, r.rank)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, brute.collect()))


def test_ivf_partial_probe_is_subset(spark, emb):
    """nprobe < C results are a subset of each probe's searched lists —
    every returned candidate must be assigned to a probed centroid."""
    probes = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(emb, probes, num_centroids=4, nprobe=2, k=3).collect()
    assigned = {r.id: r.centroid_id for r in
                similarity.ivf_assign(emb, num_centroids=4).collect()}
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    pc = (
        probes.crossJoin(cents)
        .select(
            "vec_id",
            "cid",
            F.round(similarity.cosine(F.col("embedding"), F.col("ce")), 6).alias("cos"),
        )
        .collect()
    )
    by_probe = {}
    for r in pc:
        by_probe.setdefault(r.vec_id, []).append((-r.cos, r.cid))
    probed = {p: {cid for _, cid in sorted(v)[:2]} for p, v in by_probe.items()}
    for r in out:
        assert assigned[r.cand_id] in probed[r.probe_id]


def test_ngram_jaccard_max_df_cap_is_monotone(spark):
    """The hot-shingle cap only removes overlap evidence: capped overlap
    <= exact, and with a cap above the max document frequency the result
    is identical to the exact computation."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.22)
    loose = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.22, max_df=10**9
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, loose.collect()))
    capped = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.0, max_df=5
    )
    e = {(r.id_a, r.id_b): r.jaccard for r in
         dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.0).collect()}
    for r in capped.collect():
        assert r.jaccard <= e[(r.id_a, r.id_b)] + 1e-9


def test_stateful_running_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    totals accumulate, and each batch emits only the keys it touched."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "b1.txt").write_text("a 1\na 2\nb 3\n")
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inp))
    )
    parts = F.split(F.col("value"), " ")
    records = lines.select(
        parts.getItem(0).alias("key"), parts.getItem(1).cast("double").alias("value")
    )
    out = stateful_running_stats(records)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (inp / "b2.txt").write_text("a 4\nc 5\n")
        q.processAllAvailable()
        rows = spark.sql("select * from running_stats").collect()
        # final state per key = max-n row (n is monotone per key)
        final = {}
        for r in rows:
            if r.key not in final or r.n > final[r.key][0]:
                final[r.key] = (r.n, r.total)
        assert final == {"a": (3, 7.0), "b": (1, 3.0), "c": (1, 5.0)}
        # batch 2 re-emitted 'a' with cumulative totals (state survived)
        assert sum(1 for r in rows if r.key == "a") == 2
    finally:
        q.stop()


def test_stateful_running_stats_bigint_key(spark, tmp_path):
    """A non-string key column (e.g. bigint sensor ids) must work: the
    output schema declares `key string`, so the operator casts the key
    before grouping — without it every micro-batch died at the Arrow
    serializer (int64 -> string rejection)."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "b1.txt").write_text("7 1\n7 2\n9 3\n")
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inp))
    )
    parts = F.split(F.col("value"), " ")
    records = lines.select(
        parts.getItem(0).cast("bigint").alias("key"),
        parts.getItem(1).cast("double").alias("value"),
    )
    out = stateful_running_stats(records)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats_bigint")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from running_stats_bigint").collect()
        assert {(r.key, r.n, r.total) for r in rows} == {
            ("7", 2, 3.0),
            ("9", 1, 3.0),
        }
    finally:
        q.stop()


def test_ivf_partial_probe_recall(spark, emb):
    """Measured recall of the scale path: nprobe=2 of 4 IVF lists must
    recover most of the true top-3 neighbors (quality evidence, not just
    subset-correctness). Deterministic: data, centroids, and ordering
    are all fixed."""
    probes = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r.probe_id, r.cand_id)
        for r in similarity.cosine_topk(emb, probes, k=3).collect()
    }
    got = {
        (r.probe_id, r.cand_id)
        for r in similarity.ivf_topk(
            emb, probes, num_centroids=4, nprobe=2, k=3
        ).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, f"recall@3 {recall:.2f} with nprobe=2/4"


def test_decontaminate_flags_exact_and_partial_overlap(spark):
    from sonnerie_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "quick brown fox jumps over the lazy dog today again"),  # shares 8-grams with 1
            (3, "completely different content with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 1")
    hits = {r.id: r.n_hits for r in decontaminate(docs, bench, k=8).collect()}
    assert 1 in hits and hits[1] >= 1  # a benchmark doc contaminates itself
    assert 2 in hits  # partial 8-gram overlap detected
    assert 3 not in hits  # clean doc absent from the result


def test_redact_pii_counts_and_replaces(spark):
    from sonnerie_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact a.user@example.com or call 123456789 now"),
            (2, "clean text with short 12345 number"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in redact_pii(docs).collect()}
    assert out[1].n_emails == 1 and out[1].n_digit_runs == 1
    assert out[1].redacted == "contact <EMAIL> or call <NUMBER> now"
    assert out[2].n_emails == 0 and out[2].n_digit_runs == 0
    assert out[2].redacted == "clean text with short 12345 number"


def test_pack_sequences_invariants(spark):
    """Packing invariants per slice: no pack exceeds the budget, packs
    are densely numbered, offsets place docs disjointly, oversized docs
    are clipped to a full pack of their own, and assignment is
    deterministic across runs."""
    from sonnerie_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, 50 + (i * 37) % 300) for i in range(200)] + [(999, 5000)],
        "doc_id long, n long",
    )
    out = pack_sequences(docs, "doc_id", "n", budget=256, num_slices=4).collect()
    assert len(out) == 201
    by_pack = {}
    for r in out:
        by_pack.setdefault((r.slice, r.pack_id), []).append(r)
    for (_, _), rows in by_pack.items():
        used = sorted((r.pack_offset, r.pack_offset + min(r.length, 256)) for r in rows)
        assert used[-1][1] <= 256  # budget respected (clipped lengths)
        for (a0, a1), (b0, b1) in zip(used, used[1:]):
            assert a1 <= b0  # disjoint placement
    big = next(r for r in out if r.id == 999)
    assert big.pack_offset == 0 and big.length == 5000  # clipped, own pack start
    out2 = pack_sequences(docs, "doc_id", "n", budget=256, num_slices=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))  # deterministic


def test_streaming_lsh_index_dedup(spark, tmp_path):
    """Near-dup detection as a STREAMING pipeline: documents arrive as
    micro-batches (file source, one file per trigger); each batch flows
    through LshIndex.add in foreachBatch — delivered AT-LEAST-ONCE
    (every batch is re-delivered immediately, the foreachBatch retry
    shape). With batch_id the replay is idempotent: the accumulated
    pair set must still equal the one-shot LSH enumeration over
    everything seen, and the index must hold each doc's band rows
    exactly once (a replayed add appends nothing)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "arrivals")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/b0"
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b1"
    )

    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    seen_pairs = set()

    def on_batch(batch_df, bid):
        for attempt in range(2):  # at-least-once: deliver twice
            for r in idx.add(
                batch_df, "doc_id", "text", batch_id=f"b{bid}"
            ).collect():
                seen_pairs.add((r["id_a"], r["id_b"]))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    one_shot = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert seen_pairs == one_shot and one_shot
    # replays appended nothing: one band row per (doc, band)
    n_bands = idx.num_hashes // idx.band_size
    assert idx._existing().count() == docs.count() * n_bands


def test_lsh_index_replay_idempotent(spark, tmp_path):
    """LshIndex.add with batch_id: a replayed batch leaves the index
    bitwise untouched and returns a correct pair set — an IMMEDIATE
    replay returns exactly the first run's pairs; a LATE replay (after
    another batch landed) may additionally emit pairs against the later
    docs, but every extra pair is one the later batch already emitted,
    so the accumulated union still equals the one-shot enumeration."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    def index_rows():
        return sorted(
            (r["id"], r["band"], r["bucket"])
            for r in idx._existing().collect()
        )

    p1 = pairs(idx.add(b1, "doc_id", "text", batch_id="b1"))
    rows1 = index_rows()
    assert idx.batch_applied("b1") and not idx.batch_applied("b2")
    # immediate replay: exact first-run output, index untouched
    assert pairs(idx.add(b1, "doc_id", "text", batch_id="b1")) == p1
    assert index_rows() == rows1

    p2 = pairs(idx.add(b2, "doc_id", "text", batch_id="b2"))
    rows2 = index_rows()

    one_shot = pairs(dedup.minhash_lsh_pairs(docs, "doc_id", "text"))
    assert p1 | p2 == one_shot and one_shot

    # LATE replay of b1: superset of its first run, subset of one-shot,
    # union unchanged, index untouched
    p1_late = pairs(idx.add(b1, "doc_id", "text", batch_id="b1"))
    assert p1 <= p1_late <= one_shot
    assert p1_late | p2 == one_shot
    assert index_rows() == rows2
    # the ledger records exactly the batch's band rows
    assert idx.batch_bands("b1").count() == b1.count() * (
        idx.num_hashes // idx.band_size
    )


def test_lsh_index_crash_window_recovery(spark, tmp_path, monkeypatch):
    """Crash between the index append and the ledger rename (the
    at-least-once window): the next touch of the batch_id must heal
    from the pre-append RECORDING — re-delivery returns the first
    run's pairs, the ledger seals with the original band rows, later
    batches are undistorted by the duplicate debris (pair output is
    distinct'd), and compact() removes the duplicates."""
    import os as _os

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    # clean twin: the outputs the crashed index must reproduce
    twin = dedup.LshIndex(spark, str(tmp_path / "twin"))
    exp1 = pairs(twin.add(b1, "doc_id", "text"))
    exp2 = pairs(twin.add(b2, "doc_id", "text"))

    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    real_rename = _os.rename

    def boom(src, dst, *a, **k):
        d = str(dst)
        if _os.path.basename(d) == "b1" and "applied" in d:
            raise OSError("simulated crash before ledger rename")
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr("os.rename", boom)
    with pytest.raises(OSError, match="simulated crash"):
        idx.add(b1, "doc_id", "text", batch_id="b1")
    monkeypatch.undo()

    # state: bands appended, complete recording left, ledger missing
    assert not _os.path.isdir(_os.path.join(idx.path, "applied", "b1"))
    n_bands = idx.num_hashes // idx.band_size
    assert idx._existing().count() == b1.count() * n_bands

    # re-delivery heals: first-run pairs, ledger sealed with the
    # original recording (recovery re-appends it -> duplicate rows)
    assert pairs(idx.add(b1, "doc_id", "text", batch_id="b1")) == exp1
    assert idx.batch_applied("b1")
    assert idx.batch_bands("b1").count() == b1.count() * n_bands

    # duplicate debris does not distort a later batch's pair output
    assert pairs(idx.add(b2, "doc_id", "text", batch_id="b2")) == exp2

    # compact heals the double-append down to one row per (doc, band)
    idx.compact()
    assert idx._existing().count() == docs.count() * n_bands
    # and replay still works against the compacted layout
    assert pairs(idx.add(b1, "doc_id", "text", batch_id="b1")) >= exp1


def test_lsh_index_torn_recording_reaped(spark, tmp_path):
    """A recording WITHOUT the _COMPLETE marker is a crash BEFORE the
    index append (write ordering): batch_applied reaps it and reports
    not-applied, and the batch then runs as a clean first attempt."""
    import os as _os

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    torn = _os.path.join(idx.path, "applied", "b1!tmp-1-dead")
    _os.makedirs(torn)
    open(_os.path.join(torn, "part-00000.parquet"), "wb").close()

    assert not idx.batch_applied("b1")
    assert not _os.path.exists(torn)

    out = idx.add(b1, "doc_id", "text", batch_id="b1")
    assert idx.batch_applied("b1")
    twin = dedup.LshIndex(spark, str(tmp_path / "twin"))
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {
        (r["id_a"], r["id_b"])
        for r in twin.add(b1, "doc_id", "text").collect()
    }
    # compact sweeps foreign torn recordings too
    foreign = _os.path.join(idx.path, "applied", "zz!tmp-2-dead")
    _os.makedirs(foreign)
    idx.compact()
    assert not _os.path.exists(foreign)


def test_lsh_index_ledger_id_containing_tmp_token_is_safe(spark, tmp_path):
    """A batch_id containing '.tmp-' (dots and dashes are legal id
    characters) must never collide with the debris pattern: its SEALED
    ledger is not promoted/destroyed by compact()'s sweep, and it does
    not falsely mark the prefix batch ('v1') as applied. The recording
    separator is '!' — unreachable by the id sanitizer — so the
    pattern cannot be forged by any batch_id."""
    import os as _os

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    idx.add(b1, "doc_id", "text", batch_id="v1.tmp-2-a")
    assert idx.batch_applied("v1.tmp-2-a")
    assert not idx.batch_applied("v1")
    rows_before = idx._existing().count()
    idx.compact()
    assert idx.batch_applied("v1.tmp-2-a")  # sealed ledger untouched
    assert not idx.batch_applied("v1")  # no false promotion
    assert idx._existing().count() == rows_before  # no false re-append
    assert _os.path.isdir(
        _os.path.join(idx.path, "applied", "v1.tmp-2-a")
    )


def test_ledger_dir_sanitization_cannot_collide(tmp_path):
    """Distinct batch_ids that sanitize to the same flat name ('a b'
    vs 'a_b') must map to distinct ledger dirs — a collision would
    silently treat the second batch as an already-applied replay and
    skip its index append with no error. Already-safe ids keep their
    exact name (pre-fix ledgers for them stay valid)."""
    from sonnerie_spark.operators.dedup import _ledger_dir

    root = str(tmp_path)
    assert _ledger_dir(root, "a b") != _ledger_dir(root, "a_b")
    assert _ledger_dir(root, "a/b") != _ledger_dir(root, "a_b")
    assert _ledger_dir(root, "a b") != _ledger_dir(root, "a/b")
    # unchanged ids are untouched — no hash suffix
    assert _ledger_dir(root, "a_b").endswith("/applied/a_b")
    assert _ledger_dir(root, "2026-08-16.v1").endswith("/applied/2026-08-16.v1")
    # deterministic across calls (replay of the SAME raw id still hits
    # the same ledger)
    assert _ledger_dir(root, "a b") == _ledger_dir(root, "a b")


def test_lsh_index_sanitization_collision_batches_both_apply(spark, tmp_path):
    """End-to-end: two batches whose ids sanitize identically ('a b'
    then 'a_b') must BOTH append — before the fix the second was
    skipped as a replay, permanently dropping its band rows."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 1)
    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    idx.add(b1, "doc_id", "text", batch_id="a b")
    n1 = idx._existing().count()
    idx.add(b2, "doc_id", "text", batch_id="a_b")
    n2 = idx._existing().count()
    assert n2 > n1  # second batch actually appended
    assert idx.batch_applied("a b")
    assert idx.batch_applied("a_b")
    # replaying either id is still a no-op
    idx.add(b1, "doc_id", "text", batch_id="a b")
    assert idx._existing().count() == n2


def test_exact_index_lifecycle(spark, tmp_path):
    """ExactIndex: within-batch dedup keeps min id, cross-batch dedup
    drops already-indexed content, compact() preserves the answer, and
    the probe plan prunes to the batch's own prefix partitions."""
    from pyspark.sql import functions as F

    from sonnerie_spark.operators.dedup import ExactIndex

    idx = ExactIndex(spark, str(tmp_path / "exidx"))
    b1 = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc")],
        "doc_id: long, text: string",
    )
    assert sorted(
        r["id"] for r in idx.add(b1, "doc_id", "text").collect()
    ) == [1, 2, 4]
    b2 = spark.createDataFrame(
        [(5, "bb"), (6, "dd"), (7, "dd"), (8, "aa")],
        "doc_id: long, text: string",
    )
    assert sorted(
        r["id"] for r in idx.add(b2, "doc_id", "text").collect()
    ) == [6]
    idx.compact()
    b3 = spark.createDataFrame(
        [(9, "dd"), (10, "ee")], "doc_id: long, text: string"
    )
    assert sorted(
        r["id"] for r in idx.add(b3, "doc_id", "text").collect()
    ) == [10]
    # Re-adding indexed content is a no-op (idempotent downstream).
    assert idx.add(b3, "doc_id", "text").count() == 0

    # The probe is partition-pruned: a one-prefix filter plans exactly
    # that prefix directory, not the whole index.
    probe = idx._existing().where(F.col("pfx") == F.lit("aa"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(pfx" in plan, plan


def test_streaming_exact_index_dedup(spark, tmp_path):
    """Exact dedup as a STREAMING pipeline: duplicate-rich micro-batches
    (every 3 docs share one text) flow through ExactIndex.add in
    foreachBatch. The accumulated keeper set must equal a global
    first-occurrence dedup in stream order, computed independently."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    anchors = docs.select(
        F.col("doc_id").alias("aid"), F.col("text").alias("atext")
    )
    dup = (
        docs.select(
            "doc_id", (F.col("doc_id") - F.col("doc_id") % 3).alias("aid")
        )
        .join(anchors, "aid")
        .select("doc_id", F.col("atext").alias("text"))
    )
    src = str(tmp_path / "arrivals")
    # File-source ordering is by path: b0 then b1.
    dup.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src + "/b0")
    dup.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src + "/b1")

    idx = dedup.ExactIndex(spark, str(tmp_path / "exidx"))
    kept = set()

    def on_batch(batch_df, _bid):
        for r in idx.add(batch_df, "doc_id", "text").collect():
            kept.add((r["id"], r["h"]))

    stream = (
        spark.readStream.schema(dup.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    import hashlib

    rows = sorted(
        (r["doc_id"], r["text"]) for r in dup.collect()
    )
    seen, want = set(), set()
    for parity in (0, 1):
        first = {}
        for i, t in rows:
            if i % 2 != parity:
                continue
            h = hashlib.md5(t.encode()).hexdigest()
            if h not in seen and (h not in first or i < first[h][0]):
                first[h] = (i, h)
        for h, pair in first.items():
            seen.add(h)
            want.add(pair)
    assert kept == want and want


def test_ivf_index_lifecycle(spark, tmp_path, emb):
    """IvfIndex: build on half the corpus, add the rest against stored
    centroids (no retraining), full-probe search equals brute force,
    partial-probe results come only from probed lists, and the list
    scan is partition-pruned to the probed centroid directories."""
    import re

    from sonnerie_spark.operators.similarity import IvfIndex, cosine_topk

    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(emb.filter(F.col("vec_id") % 2 == 0), num_centroids=4)
    before = {r["id"]: r["centroid_id"]
              for r in idx.add(emb.filter(F.col("vec_id") % 2 == 1)).collect()}
    probes = emb.filter(F.col("vec_id") < 3)

    got = sorted(map(tuple, idx.topk(probes, nprobe=4, k=3).collect()))
    brute = sorted(map(tuple, cosine_topk(emb, probes, k=3).collect()))
    assert got == brute

    # Partial probe: every candidate belongs to a probed list.
    out = idx.topk(probes, nprobe=1, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^,\]]*centroid_id[^\]]*\]", plan)
    assert m, plan

    # Adding MORE vectors must not have moved the stored centroids:
    # re-adding a vector assigns it identically.
    again = {r["id"]: r["centroid_id"]
             for r in idx.add(emb.filter(F.col("vec_id") % 2 == 1)).collect()}
    assert again == before


def test_streaming_curation_composite(spark, tmp_path):
    """A streaming curation pipeline: documents arrive in micro-batches,
    each batch is gopher-filtered then deduped against EVERYTHING seen
    (incremental ExactIndex), and survivors accumulate in a kept table.
    The final kept set must equal the one-shot batch computation (filter
    first, then global first-occurrence dedup) — stateless filters and
    the stateful index must compose correctly across batch boundaries."""
    from sonnerie_spark.operators.text import gopher_quality

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.col("text"),
            # ensure a sizeable pass-rate and cross-batch duplicates:
            # every 2nd doc gets the stopword suffix (passes gopher);
            # every 5th doc's text is replaced by a shared constant
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" and that have with the")
            ).otherwise(F.lit("")),
        ).alias("text"),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("duplicate body and that have with the "
                  * 8),
        ).otherwise(F.col("text")),
    )
    src = str(tmp_path / "arrivals")
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.parquet(
            f"{src}/b{b}"
        )

    idx = dedup.ExactIndex(spark, str(tmp_path / "exact"))
    kept: set[int] = set()

    def on_batch(batch_df, _bid):
        gq = gopher_quality(batch_df, "doc_id", "text", min_stop_hits=1)
        passed = batch_df.join(
            gq.filter("keep").select(F.col("id").alias("doc_id")), "doc_id"
        )
        for r in idx.add(passed, "doc_id", "text").collect():
            kept.add(r["id"])

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)

    # one-shot truth: same filter, then global first-occurrence dedup,
    # with first-occurrence order = (arrival batch, id) — the stream
    # delivers batches b0,b1,b2 (doc_id % 3), ids ascending within each
    gq = gopher_quality(docs, "doc_id", "text", min_stop_hits=1)
    passed = docs.join(
        gq.filter("keep").select(F.col("id").alias("doc_id")), "doc_id"
    )
    rows = passed.select(
        "doc_id", F.md5("text").alias("h"),
        F.pmod("doc_id", F.lit(3)).alias("b"),
    ).collect()
    first: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: (r["b"], r["doc_id"])):
        first.setdefault(r["h"], r["doc_id"])
    assert kept == set(first.values())
    assert kept, "empty kept set would make the test vacuous"


def test_ledger_fsync_barrier_ordering(spark, tmp_path, monkeypatch):
    """The crash-heal proof's write ordering must hold ON DISK: the
    recording is fsynced before _COMPLETE, the marker before the index
    append's rows, the appended rows before the sealing rename, and the
    seal's directory entry last (power-loss contract; a durable seal
    over a lost append would drop the batch's hashes forever)."""
    import os as _os

    from sonnerie_spark import fsutil
    from pyspark.sql import functions as F

    events = []

    def wrap(name, real):
        def inner(*a, **k):
            events.append((name, a[0] if a else None))
            return real(*a, **k)
        return inner

    real_rename = _os.rename
    for fn in ("fsync_tree", "fsync_file", "fsync_new_files", "fsync_dir"):
        monkeypatch.setattr(fsutil, fn, wrap(fn, getattr(fsutil, fn)))
    monkeypatch.setattr(
        _os, "rename",
        lambda s, d: (events.append(("rename", d)), real_rename(s, d))[1],
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ex = dedup.ExactIndex(spark, str(tmp_path / "ex"))
    h = (
        docs.limit(20).select(F.md5("text").alias("h"))
        .distinct().localCheckpoint(eager=True)
    )
    ex.append_hashes(h, batch_id="b1")

    bdir = dedup._ledger_dir(ex.path, "b1")
    idx = {
        "tree": next(i for i, e in enumerate(events)
                     if e[0] == "fsync_tree" and "!tmp-" in str(e[1])),
        "marker": next(i for i, e in enumerate(events)
                       if e[0] == "fsync_file"
                       and str(e[1]).endswith("_COMPLETE")),
        "rows": next(i for i, e in enumerate(events)
                     if e[0] == "fsync_new_files"),
        "seal": next(i for i, e in enumerate(events)
                     if e[0] == "rename" and e[1] == bdir),
    }
    dir_after = next(i for i, e in enumerate(events)
                     if e[0] == "fsync_dir" and i > idx["seal"]
                     and str(e[1]).endswith("applied"))
    assert idx["tree"] < idx["marker"] < idx["rows"] < idx["seal"] < dir_after


def test_index_compact_swap_crash_recovers_on_open(spark, tmp_path):
    """A compactor dying between its two swap renames leaves no data
    dir — the live index stranded under an .old-* backup. A fresh
    handle must RESTORE it (silently probing an empty index would
    un-dedup every future batch), and compact() must treat a backup
    with a missing data dir as the live index, not debris."""
    import os as _os
    import shutil as _shutil

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)

    # LshIndex: simulate the crash window
    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    idx.add(b1, "doc_id", "text", batch_id="v1")
    n = idx._existing().count()
    _os.rename(idx._data, idx._data + ".old-deadbeef")
    # also strand a half-written rewrite: debris, must be reaped
    _os.makedirs(idx._data + ".compact-1-2")
    idx2 = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    assert idx2._existing() is not None
    assert idx2._existing().count() == n
    assert not _os.path.exists(idx2._data + ".compact-1-2")
    idx2.compact()
    assert idx2._existing().count() == n

    # ExactIndex: same shape via compact()'s own sweep
    ex = dedup.ExactIndex(spark, str(tmp_path / "ex"))
    h = (
        docs.limit(30).select(F.md5("text").alias("h"))
        .distinct().localCheckpoint(eager=True)
    )
    ex.append_hashes(h, batch_id="b1")
    k = ex._existing().count()
    _os.rename(ex._data, ex._data + ".old-deadbeef")
    ex2 = dedup.ExactIndex(spark, str(tmp_path / "ex"))
    assert ex2._existing() is not None and ex2._existing().count() == k
    # when the data dir EXISTS, backups are debris and are swept
    _os.makedirs(ex2._data + ".old-stale")
    ex2.compact()
    assert not _os.path.exists(ex2._data + ".old-stale")
    assert ex2._existing().count() == k
    _shutil.rmtree(str(tmp_path / "lsh"), ignore_errors=True)


def test_index_swap_recovery_with_glob_metachar_path(tmp_path):
    """Recovery globs must escape the index path: at a directory like
    'corpus[v2]' an unescaped pattern matches nothing and the crash
    restore silently never fires. (Spark itself rejects such paths —
    Hadoop treats them as glob patterns — so this drives the recovery
    helper directly: the driver-side logic must not share Hadoop's
    quirk.)"""
    import os as _os

    from sonnerie_spark.fsutil import recover_generation

    root = tmp_path / "corpus[v2]"
    root.mkdir()
    data = str(root / "bands")
    # stranded crash state: no data dir, live layout under .old-*
    _os.makedirs(data + ".old-dead")
    (root / "bands.old-dead" / "part-0.parquet").write_bytes(b"x")
    _os.makedirs(data + ".compact-1-2")  # dead rewrite: debris
    recover_generation(data, keep_backup=False)
    assert _os.path.isdir(data)
    assert _os.path.exists(_os.path.join(data, "part-0.parquet"))
    assert not _os.path.exists(data + ".old-dead")
    assert not _os.path.exists(data + ".compact-1-2")


def test_lsh_index_meta_write_is_atomic(spark, tmp_path, monkeypatch):
    """A crash mid-write of ``lsh_index.json`` must not leave a
    truncated file that fails every later open with JSONDecodeError:
    the metadata is written under a tmp name and renamed into place,
    so a reopen finds no file and creates it."""
    import json as _json
    import os as _os

    real_dumps = _json.dumps

    def torn_dump(obj, f, *a, **k):
        s = real_dumps(obj)
        f.write(s[: len(s) // 2])
        f.flush()
        raise RuntimeError("simulated crash mid-write")

    path = str(tmp_path / "lsh")
    monkeypatch.setattr(_json, "dump", torn_dump)
    with pytest.raises(RuntimeError, match="simulated crash"):
        dedup.LshIndex(spark, path)
    monkeypatch.undo()

    idx = dedup.LshIndex(spark, path)
    with open(_os.path.join(idx.path, "lsh_index.json")) as f:
        assert _json.load(f) == {"k": 3, "num_hashes": 16, "band_size": 4}
    assert [n for n in _os.listdir(idx.path) if ".tmp-" in n] == []
