"""Deduplication operators for large-scale training-data pipelines.

Five families, all built on the engine-portable md5 hash
(:mod:`sonnerie_spark.functions.portable_hash`) so results are
deterministic and verifiable against a SQL oracle:

- exact:       hash-groupBy on a content digest (one shuffle).
- n-gram Jaccard: shingle sets -> inverted index self-join -> exact
  Jaccard. Quadratic within a shingle bucket; the honest baseline.
- MinHash+LSH: signature -> bands -> bucket join. Near-linear; the
  100 TB path: candidate pairs only ever meet inside an LSH band
  bucket, so the shuffle key is (band, bucket-hash) and no global
  pairwise join exists anywhere in the plan.
- SimHash:     64-bit sign-aggregated token hashes; hamming-distance
  candidate filter via bit_count(xor).
- embedding near-dup: cosine over an embedding column (see
  :mod:`sonnerie_spark.operators.similarity`).

Everything is JVM-side Catalyst expressions — no Python UDFs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

from pyspark.sql import Column, DataFrame, functions as F

from sonnerie_spark import fsutil
from sonnerie_spark.fsutil import (
    publish_generation,
    recover_generation,
    store_lock,
    write_json_atomic,
)
from sonnerie_spark.functions.portable_hash import phash, phash_salted

# MinHash mixing family: h_i(s) = (A_i * (phash(s) % 2^31) + B_i) % MOD.
# One md5 per shingle; the per-function variation is cheap 64-bit affine
# arithmetic (identical in Spark and the SQL oracle, overflow-free:
# A < 2^28, base < 2^31 => product < 2^59; B < 2^60; sum < 2^61 < 2^63).
MINHASH_MOD = (1 << 61) - 1
MINHASH_BASE_MOD = 1 << 31


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) affine coefficients from md5."""
    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a#{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"minhash-b#{i}".encode()).hexdigest()[:15], 16)
        out.append((a, b))
    return out


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text column."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return F.array_distinct(sh)


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup: groups by content digest, keeps the min id per group.

    One hash aggregation; partial aggregation map-side. Output: one row
    per distinct content with ``keep_id`` and ``n_copies``.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def posting_list_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    *,
    max_list_size: int | None = None,
) -> DataFrame:
    """(bucket-key, id) rows -> co-bucketed id pairs (id_a < id_b), via
    inverted posting lists instead of a self-join.

    One shuffle on the bucket key builds sorted posting lists; pair
    enumeration is a per-list array expression — no broadcast build, no
    second scan of the input, and the join-side recomputation of the
    (often expensive) bucket expression disappears. Output has one row
    per (bucket, pair) occurrence — callers dedupe or count as needed.
    At 100 TB the hot-bucket skew lives in ``size(ids)``; cap it there
    (see ``max_df`` in :func:`ngram_jaccard_pairs`) rather than salting
    a self-join.
    """
    posting = (
        keyed.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_list_size is not None:
        posting = posting.filter(F.size("ids") <= max_list_size)
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return posting.select(*key_cols, F.explode(pairs).alias("p")).select(
        *key_cols, "p.id_a", "p.id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via an inverted shingle index.

    Plan shape: explode shingles -> posting list per shingle (one
    shuffle) -> enumerate co-occurrence pairs per list -> count -> exact
    Jaccard against per-doc set sizes (computed WITHOUT a shuffle —
    ``size(shingles)`` per row — and broadcast).

    ``max_df`` is the scale knob: drop shingles appearing in more than
    that many documents before pair enumeration (a shingle in f docs
    yields f^2/2 pairs — the classic inverted-index hot-key blowup).
    Stop-shingles carry almost no similarity signal, but the result is
    then a lower bound on the true overlap; None (default) stays exact.

    The pair-occurrence stream is the quadratic hot path, so it carries
    ONLY two 8-byte ids per row; per-doc set sizes are joined back as
    broadcasts AFTER the co-occurrence count has collapsed the data.
    (Measured: threading the sizes through the enumeration as struct
    ids fattens the exploding intermediate ~2x and loses far more than
    the second tokenization pass costs.)

    CACHE CONTRACT: the per-doc size table is persisted — BOTH
    broadcast sides consume it, and without the persist the full
    corpus re-tokenization (split + k-gram build + distinct) runs once
    per side. The persisted frame is 2 narrow columns x n_docs,
    negligible vs the corpus; the lazy return relies on ContextCleaner
    GC (the simhash_near_pairs / repeated_spans contract).
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    pair_occ = posting_list_pairs(sh, ["shingle"], max_list_size=max_df)
    co = pair_occ.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("overlap"))
    sizes = df.select(
        F.col(id_col).alias("id"),
        F.size(word_shingles(F.col(text_col), k)).alias("n_shingles"),
    ).persist()
    sa = F.broadcast(sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na")))
    sb = F.broadcast(sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb")))
    return (
        co.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("overlap") / (F.col("na") + F.col("nb") - F.col("overlap")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    ``overlap / min(|A|, |B|)`` — catches a document embedded inside a
    larger one (quotes, concatenated crawls), which symmetric Jaccard
    misses because the union term dilutes the score.

    Same plan shape and skew guard as :func:`ngram_jaccard_pairs` (one
    posting-list shuffle, broadcast size joins, ``max_df`` hot-shingle
    cap); only the final scoring expression differs, so the quadratic
    hot path is shared and equally bounded. Output: (id_a, id_b,
    containment) with id_a < id_b, floor-rounded to 6 decimals for
    engine-exact comparison.

    CACHE CONTRACT: the per-doc size table is persisted (both
    broadcast sides consume it) — see :func:`ngram_jaccard_pairs`.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    pair_occ = posting_list_pairs(sh, ["shingle"], max_list_size=max_df)
    co = pair_occ.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("overlap"))
    sizes = df.select(
        F.col(id_col).alias("id"),
        F.size(word_shingles(F.col(text_col), k)).alias("n_shingles"),
    ).persist()
    sa = F.broadcast(
        sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na"))
    )
    sb = F.broadcast(
        sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb"))
    )
    c = F.col("overlap") / F.least(F.col("na"), F.col("nb"))
    return (
        co.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment", F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    h_i(shingle) from the affine mixing family.

    Single pass: the shingle array is hashed ONCE (one md5 per shingle),
    then one ``aggregate`` folds all shingles into the 16-slot minimum
    vector via ``zip_with`` against the literal coefficient array. No
    shuffle, no repeated hashing, tiny expression tree.
    """
    params = minhash_params(num_hashes)
    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b")
            )
            for a, b in params
        ]
    )
    sh = word_shingles(F.col(text_col), k)
    bases = F.transform(sh, lambda s: phash(s) % F.lit(MINHASH_BASE_MOD))
    init = F.array_repeat(F.lit(MINHASH_MOD).cast("long"), num_hashes)
    sig = F.aggregate(
        bases,
        init,
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, p: F.least(m, (p["a"] * h + p["b"]) % F.lit(MINHASH_MOD))
        ),
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band bucket.

    The scale path: explode to (band, bucket) keys, self-join per
    bucket, distinct pairs. Shuffle volume is #docs × #bands rows of a
    few bytes; hot buckets are split by AQE skew handling.

    ``max_bucket_size`` is the same skew guard as ``max_df`` on the
    n-gram path: a degenerate band bucket holding f docs (e.g.
    near-empty documents all sharing one signature) yields f^2/2 pairs;
    the cap drops buckets above it before pair enumeration. A pair of
    genuinely similar docs usually collides in several bands, so losing
    one pathological bucket rarely loses the pair; None (default) stays
    exhaustive.
    """
    bands = minhash_bands(
        df, id_col, text_col, k=k, num_hashes=num_hashes, band_size=band_size
    )
    return (
        posting_list_pairs(bands, ["band", "bucket"], max_list_size=max_bucket_size)
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH band-bucket rows — the shared currency of
    one-shot pair enumeration (:func:`minhash_lsh_pairs`) and the
    persistent incremental index (:class:`LshIndex`)."""
    sigs = minhash_signatures(df, id_col, text_col, k=k, num_hashes=num_hashes)
    n_bands = num_hashes // band_size
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(F.col("sig"), b * band_size + j + 1)
                                    for j in range(band_size)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _simhash_sig(text_col: str, bits: int, salt: int | None) -> Column:
    """One SimHash word as a Column: sig bit i = 1 iff the bit-balance
    over distinct whitespace tokens of (2*bit_i(h(token))-1) > 0, with
    ``h`` = the portable hash (salted when ``salt`` is given — each
    salt is an independent hash family, which is how multi-word
    signatures extend the width). Single pass: each token hashed once;
    one ``aggregate`` folds into the bit-balance vector (``zip_with``
    against a literal power-of-two array — ``h & 2^i`` replaces
    shifts, which the pyspark API only takes as int literals), then a
    second fold packs the signs into one long."""
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    if salt is None:
        hashes = F.transform(toks, lambda t: phash(t))
    else:
        hashes = F.transform(toks, lambda t: phash_salted(t, salt))
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) > 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts, pow2, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 60) -> DataFrame:
    """SimHash per document over whitespace tokens (see
    :func:`_simhash_sig` for the fold)."""
    return df.select(
        F.col(id_col).alias("id"),
        _simhash_sig(text_col, bits, None).alias("simhash"),
    )


def simhash_words(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    words: int = 2,
    bits_per_word: int = 60,
) -> DataFrame:
    """Multi-word SimHash — the standard 128-bit-class signature for
    corpus-scale near-dup detection, as ``array<bigint>`` of
    ``words`` x ``bits_per_word``-bit words. Word j uses the
    salt-``j`` portable hash family, so the words are independent
    bit-planes of one signature (the classic construction: more
    planes, finer cosine-angle resolution — at 120 bits two unrelated
    documents land ~60 bits apart, so a max_hamming<=8 near-dup
    filter has a far lower false-candidate rate than at 60 bits).
    Word 0 equals :func:`simhash`'s single word ONLY for salt
    conventions matching ``phash``; here every word is salted
    (0, 1, ...) so the construction is uniform and mirrors
    ``phash_salted_sql`` in oracles. Pair with
    :func:`hamming_near_pairs_words`. One pass over tokens per word —
    width costs compute, never an extra shuffle."""
    if words < 1:
        raise ValueError(f"words must be >= 1, got {words}")
    return df.select(
        F.col(id_col).alias("id"),
        F.array(
            *[
                _simhash_sig(text_col, bits_per_word, j)
                for j in range(words)
            ]
        ).alias("simhash"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 60,
    max_hamming: int = 8,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance (exact output:
    ALL pairs with hamming <= max_hamming).

    Blocking: split the signature into c = max_hamming//2 + 1 wide
    chunks; by pigeonhole some chunk of a qualifying pair differs in
    <= floor(max_hamming/c) = 1 bit, so one side additionally emits
    every 1-bit-flip variant of each chunk and the candidate join is a
    plain equi-join on (chunk_idx, value). Wide chunks (12 bits -> 4096
    values) keep buckets fine-grained where the naive d+1-narrow-chunk
    scheme (6 bits -> 64 values) degenerates into a handful of huge
    buckets whose pairwise blowup exceeds brute force. Any complete
    blocking yields the same final pairs, so the verification filter —
    not the blocking — defines the result.

    CACHE CONTRACT: the signature table is persisted (both join sides
    consume it); the default lazy return relies on ContextCleaner GC —
    ``materialize=True`` blockifies the result and releases the cache
    before returning, for sessions that retain results (the same
    contract as text.repeated_spans).
    """
    # Both join sides derive from the signatures; without a persist the
    # expensive text->simhash fold runs twice (once per side — Spark has
    # no common-subexpression reuse across join inputs). The persisted
    # frame is 2 columns x n_docs, negligible vs the corpus.
    sigs = simhash(df, id_col, text_col, bits=bits).persist()
    n_chunks = max_hamming // 2 + 1
    while bits % n_chunks:  # need equal-width chunks covering all bits
        n_chunks += 1
    chunk_bits = bits // n_chunks
    assert max_hamming // n_chunks <= 1

    def chunk_val(c: int) -> Column:
        return F.shiftrightunsigned(F.col("simhash"), c * chunk_bits).bitwiseAND(
            F.lit((1 << chunk_bits) - 1)
        )

    exact = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk_idx"), chunk_val(c).alias("v"))
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("id", "simhash", "ch.chunk_idx", "ch.v")
    flips = [F.col("v")] + [
        F.col("v").bitwiseXOR(F.lit(1 << b)) for b in range(chunk_bits)
    ]
    variants = exact.select(
        F.col("id").alias("va_id"),
        F.col("simhash").alias("va_sig"),
        "chunk_idx",
        F.explode(F.array(*flips)).alias("v"),
    )
    # va_id < id (not !=): a qualifying pair's <=1-bit-differing chunk is
    # found from EITHER side's flip set, so keeping only the ordered
    # direction is still complete and halves the candidate stream.
    cand = variants.join(exact, ["chunk_idx", "v"]).filter(
        F.col("va_id") < F.col("id")
    )
    ham = F.bit_count(F.col("va_sig").bitwiseXOR(F.col("simhash")))
    out = (
        cand.select(
            F.col("va_id").alias("id_a"),
            F.col("id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        sigs.unpersist()
    return out


def _ledger_dir(root: str, batch_id: str) -> str:
    """Applied-batch ledger path for ``batch_id`` under ``root``.
    Sanitized to a flat safe name — ids are labels like '2026-08-16'
    or 'shard-00012', not paths. When sanitization CHANGES the id, a
    short hash of the raw id is appended: otherwise distinct ids like
    'a b' and 'a_b' would collide on one ledger dir and the second
    batch would silently be treated as an already-applied replay —
    its index append skipped with no error. Ids that were already
    safe keep their exact name (ledgers written before this rule are
    unaffected for them).

    MIGRATION for indexes written before this rule whose batch ids
    NEEDED sanitizing: their old ledgers live at the bare sanitized
    name and are no longer consulted, so a replay of such a batch
    re-applies it (duplicate index rows — tolerated by every probe and
    healed by compact(); the replay's pair/survivor output is the
    polluted-recompute shape, so prefer migrating). Migrate by renaming
    ``applied/<sanitized>`` to the path this function now returns for
    the raw id. This cannot be automated: a bare ``applied/a_b`` is
    indistinguishable from the legitimate ledger of the DISTINCT id
    'a_b' — exactly the ambiguity the suffix removes."""
    raw = str(batch_id)
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", raw)
    if not safe or safe in (".", ".."):
        raise ValueError(f"unusable batch_id: {batch_id!r}")
    if safe != raw:
        safe = safe + "-" + hashlib.sha1(raw.encode("utf-8")).hexdigest()[:8]
    return os.path.join(root, "applied", safe)


def _ledger_tmps(bdir: str) -> list[str]:
    """In-flight/orphaned recording dirs (`<bdir>!tmp-*`) for a
    ledger entry. Writers create these only while holding the index
    flock, so any tmp visible to a flock HOLDER is debris from a dead
    attempt. The separator is '!' — a character `_ledger_dir`'s
    sanitizer can never emit — so a SEALED ledger whose batch_id
    happens to contain '.tmp-' (dots and dashes are legal in ids) can
    never match another batch's debris pattern and be falsely
    promoted/destroyed by recovery."""
    adir, base = os.path.dirname(bdir), os.path.basename(bdir)
    if not os.path.isdir(adir):
        return []
    return sorted(
        os.path.join(adir, n)
        for n in os.listdir(adir)
        if n.startswith(base + "!tmp-")
    )


class _LedgeredIndex:
    """What LshIndex and ExactIndex share: one parquet data directory
    under an index root, mutated only under the index flock; the
    applied-batch ledger that makes a ``batch_id``-tagged append
    exactly-once; and compaction, whose swap is a
    :func:`~sonnerie_spark.fsutil.publish_generation` that keeps no
    backup (crash contract: :mod:`sonnerie_spark.fsutil`).

    Subclasses set ``_SCHEMA`` (the data rows), ``_RECORD_SCHEMA`` (a
    ledger recording) and implement ``_append(df)`` and
    ``_rewrite(old, tmp)``."""

    _SCHEMA: str
    _RECORD_SCHEMA: str

    def _open(self, spark, path: str, data: str) -> None:
        self.spark = spark
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)
        self._data = os.path.join(self.path, data)
        if not os.path.isdir(self._data):
            # a compactor that died between its swap renames strands the
            # live index under .old-*: without the restore every probe
            # of a fresh handle would silently see an EMPTY index
            with self._locked():
                recover_generation(self._data, keep_backup=False)

    def _locked(self):
        """Exclusive flock over the index's mutation window: serializes
        appends against compact()'s directory swap, so an append landing
        in the swap window can never recreate the data dir between the
        two renames."""
        return store_lock(self.path)

    def _existing(self) -> DataFrame | None:
        if not os.path.isdir(self._data):
            return None
        return (
            self.spark.read.schema(self._SCHEMA)
            .option("basePath", self._data)
            .parquet(self._data)
        )

    def _recorded(self, batch_id: str) -> DataFrame:
        """A sealed batch's recording. Explicit schema: an empty batch's
        ledger dir holds zero data files."""
        return self.spark.read.schema(self._RECORD_SCHEMA).parquet(
            _ledger_dir(self.path, batch_id)
        )

    def _append_durable(self, df: DataFrame) -> None:
        before = fsutil.snapshot_files(self._data)
        self._append(df)
        fsutil.fsync_new_files(self._data, before)

    def _apply(self, batch_id: str | None, rows: DataFrame) -> None:
        """Append ``rows`` under the flock; with a ``batch_id``, exactly
        once. The seal sequence is: record the rows at ``<bdir>!tmp-*``,
        fsync it, write ``_COMPLETE`` and fsync it, append (new files
        fsynced), then rename the recording to the ledger entry and
        fsync ``applied/``. The barriers make :meth:`_recover_batch`'s
        write-ordering argument hold on disk under power loss — a
        durable seal over a lost append would drop the batch forever
        (replay skips the append)."""
        with self._locked():
            if batch_id is None:
                self._append(rows)
                return
            bdir = _ledger_dir(self.path, batch_id)
            if self._recover_batch(bdir):
                return  # applied (possibly just now, from a recording)
            tmp = fsutil.tmp_name(bdir, "!tmp-")
            rows.repartition(1).write.mode("overwrite").parquet(tmp)
            fsutil.fsync_tree(tmp)
            marker = os.path.join(tmp, "_COMPLETE")
            open(marker, "w").close()
            fsutil.fsync_file(marker)
            fsutil.fsync_dir(tmp)
            self._append_durable(rows)
            fsutil.rename_durable(tmp, bdir)  # the applied marker, LAST

    def _recover_batch(self, bdir: str) -> bool:
        """Crash-window recovery for one ledger entry (caller HOLDS the
        flock); True iff the batch is (now) applied. Debris found under
        the flock is a dead attempt (a live writer would hold it):

        - recording WITH ``_COMPLETE``: the attempt recorded its rows
          against the PRE-batch index view and crashed anywhere up to
          the seal — possibly after (part of) the append. Re-append the
          RECORDING, never a recompute against the possibly polluted
          index (duplicate rows are tolerated by every probe and healed
          by ``compact()``), then promote it to the ledger entry. A
          crash inside recovery just re-runs it.
        - recording WITHOUT ``_COMPLETE``: by write ordering the append
          never started — reap it; the caller runs a clean first
          attempt."""
        for tmp in _ledger_tmps(bdir):
            if not os.path.isdir(bdir) and os.path.exists(
                os.path.join(tmp, "_COMPLETE")
            ):
                self._append_durable(
                    self.spark.read.schema(self._RECORD_SCHEMA).parquet(tmp)
                )
                fsutil.rename_durable(tmp, bdir)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
        return os.path.isdir(bdir)

    def batch_applied(self, batch_id: str) -> bool:
        """Has ``batch_id`` been sealed? (The replay guard.) Also HEALS
        the crash window: a complete orphaned recording is finished
        (re-append + seal) and counts as applied; a torn one is reaped
        and does not — so a caller that crashed between the append and
        the seal gets its first run's rows back instead of recomputing
        against a polluted index."""
        bdir = _ledger_dir(self.path, batch_id)
        if os.path.isdir(bdir):
            return True
        if not _ledger_tmps(bdir):
            return False
        with self._locked():
            return self._recover_batch(bdir)

    def compact(self) -> None:
        """Rewrite the accumulated per-batch appends into one compact
        layout (the index analogue of the database's minor compaction:
        many small appends -> one sorted layout, fewer files to open per
        probe; crash-recovery duplicate rows are dropped). The lock
        covers list + rewrite + swap: an append landing after the
        rewrite read its file list but before the swap would otherwise
        be dropped by the swap."""
        with self._locked():
            # a backup whose data dir is MISSING is the live index, not
            # debris (the lock guarantees no live compaction owns these
            # names)
            recover_generation(self._data, keep_backup=False)
            # finish-or-reap orphaned recordings BEFORE reading the
            # rewrite input (finishing one appends to the index)
            adir = os.path.join(self.path, "applied")
            if os.path.isdir(adir):
                for base in sorted(
                    {n.split("!tmp-", 1)[0] for n in os.listdir(adir) if "!tmp-" in n}
                ):
                    self._recover_batch(os.path.join(adir, base))
            old = self._existing()
            if old is None:
                return
            tmp = fsutil.tmp_name(self._data, ".compact-")
            self._rewrite(old, tmp)
            # the swap destroys the old layout, so the rewrite is made
            # durable first (the index is the corpus's dedup memory —
            # losing it to a power loss silently un-dedups every future
            # batch)
            publish_generation(self._data, tmp, keep_backup=False)


class LshIndex(_LedgeredIndex):
    """Persistent MinHash-LSH index for INCREMENTAL near-dup detection.

    The one-shot pair enumeration recomputes every signature per run; a
    growing corpus instead indexes each arriving batch once and probes
    only the batch's own band buckets against what is already indexed —
    the cost of a batch is O(batch + collisions), independent of corpus
    size. Union over batches of ``add()``'s output equals the one-shot
    pair set over the whole corpus (test-asserted), because a pair's
    bucket collision is observed exactly when its second member arrives.

    Storage: an append-only parquet directory of (id, band, bucket) rows
    written per batch (each ``add`` = one new file set; the parquet
    append is atomic per file and a torn batch can be re-added — pair
    output is idempotent downstream of a distinct). The probe join is an
    equi-join on (band, bucket) — hash-shuffled, AQE-skew-split, no
    pairwise work outside buckets, same scale shape as the one-shot path.

    Replay: with ``batch_id=None`` a re-run of an already-added batch
    re-APPENDS its band rows (duplicate rows downstream) — exactly-once
    delivery is the caller's job. Passing a ``batch_id`` to ``add``
    makes at-least-once delivery (e.g. a ``foreachBatch`` retry)
    idempotent via the same applied-batch ledger
    :class:`ExactIndex` uses: a replayed id skips the append under the
    index flock and probes the index MINUS the batch's own band rows,
    so replay output stays correct and the index is bitwise untouched.
    """

    _SCHEMA = _RECORD_SCHEMA = "id long, band int, bucket string"

    def __init__(
        self,
        spark,
        path: str,
        *,
        k: int = 3,
        num_hashes: int = 16,
        band_size: int = 4,
        max_bucket_size: int | None = None,
    ):
        self.k, self.num_hashes, self.band_size = k, num_hashes, band_size
        # Skew guard (minhash_lsh_pairs' max_bucket_size): buckets whose
        # TOTAL membership (indexed + batch) exceeds the cap emit no
        # pairs for this batch. NOT part of the index identity — the
        # stored band rows are cap-independent, only pair emission is
        # filtered — so it can change between add() calls.
        self.max_bucket_size = max_bucket_size
        self._open(spark, path, "bands")
        meta_path = os.path.join(self.path, "lsh_index.json")
        meta = {"k": k, "num_hashes": num_hashes, "band_size": band_size}
        # read-or-create under the lock: two processes creating the
        # index at once agree on one parameter set
        with self._locked():
            if not os.path.exists(meta_path):
                write_json_atomic(meta_path, meta)
            with open(meta_path) as f:
                stored = json.load(f)
        if stored != meta:
            raise ValueError(
                f"index at {self.path} was built with {stored}, not {meta}"
            )

    def _append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._data)

    def _rewrite(self, old: DataFrame, tmp: str) -> None:
        (
            # dropDuplicates heals crash-recovery double-appends:
            # (id, band) is a natural key, so exact-duplicate rows are
            # always redundant
            old.dropDuplicates(["id", "band", "bucket"])
            .repartition("band", "bucket")
            .sortWithinPartitions("band", "bucket", "id")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    def add(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        *,
        max_bucket_size: int | None = None,
        batch_id: str | None = None,
    ) -> DataFrame:
        """Index ``docs`` and return the near-dup candidate pairs they
        form — batch-internal pairs plus (new x already-indexed) pairs,
        as (id_a, id_b) with id_a < id_b.

        ``max_bucket_size`` (default: the index's constructor setting)
        caps per-bucket pair emission: a bucket whose total membership —
        already-indexed rows plus this batch's — exceeds the cap emits
        NO pairs this batch. This is the hot-bucket f^2/2 guard on the
        probe join (the indexed side of a degenerate bucket grows with
        the corpus, so the cross join against it is where an uncapped
        index blows up at scale). The bucket's rows are still INDEXED —
        the cap filters emission, not storage — so raising the cap later
        re-exposes them. Capped incremental output is a superset of the
        capped one-shot output (early batches may emit pairs from a
        bucket before it outgrows the cap) and a subset of the uncapped
        pair set; the uncapped equivalence to one-shot stays exact.

        With ``batch_id``, the add is idempotent under at-least-once
        re-delivery (the ExactIndex applied-batch-ledger pattern): a
        new id records the batch's band rows at ``applied/<id>``
        (seal sequence and crash healing: ``_LedgeredIndex._apply``);
        a replayed id skips
        the append and probes the index MINUS the batch's own band
        rows — an anti-join on the batch's ids, which are corpus-unique
        and therefore remove exactly what the first run appended,
        crash-debris copies included. A LATE replay (after later
        batches landed) may emit pairs against those later docs too:
        every such pair was already emitted when its later member
        arrived, so union-over-batches is unchanged (test-asserted).
        """
        cap = max_bucket_size if max_bucket_size is not None else self.max_bucket_size
        bands = (
            minhash_bands(
                docs,
                id_col,
                text_col,
                k=self.k,
                num_hashes=self.num_hashes,
                band_size=self.band_size,
            )
            .withColumn("id", F.col("id").cast("long"))
            .persist()
        )
        try:
            replay = batch_id is not None and self.batch_applied(batch_id)
            old = self._existing()
            if replay and old is not None:
                # pre-batch view reconstruction: drop the batch's OWN
                # rows; later batches' rows stay visible (their extra
                # pairs are re-emissions — see the docstring)
                old = old.join(
                    bands.select("id").distinct(), "id", "left_anti"
                )
            pair_bands = bands
            if cap is not None:
                # One aggregation over the BATCH's buckets (tiny) plus a
                # count of index rows restricted to those buckets (the
                # probe join touches exactly those rows anyway) decides
                # which buckets may emit pairs this batch.
                new_sz = bands.groupBy("band", "bucket").agg(
                    F.count(F.lit(1)).alias("n_new")
                )
                if old is not None:
                    # countDistinct, not count: crash-recovery may leave
                    # duplicate band rows in the index (tolerated by the
                    # distinct'd pair output, healed by compact()); the
                    # cap must count MEMBERS, not rows, or debris shrinks
                    # the effective cap. Equal to count on a clean index.
                    old_sz = (
                        old.join(
                            new_sz.select("band", "bucket"), ["band", "bucket"]
                        )
                        .groupBy("band", "bucket")
                        .agg(F.countDistinct("id").alias("n_old"))
                    )
                    allowed = (
                        new_sz.join(old_sz, ["band", "bucket"], "left")
                        .filter(
                            F.coalesce(F.col("n_old"), F.lit(0)) + F.col("n_new")
                            <= F.lit(cap)
                        )
                        .select("band", "bucket")
                    )
                else:
                    allowed = new_sz.filter(F.col("n_new") <= F.lit(cap)).select(
                        "band", "bucket"
                    )
                # No broadcast hint: `allowed` scales with the batch's
                # bucket count (batch x bands in the worst case), which
                # can exceed broadcast limits — AQE picks broadcast when
                # the runtime size allows.
                pair_bands = bands.join(allowed, ["band", "bucket"])
            intra = (
                posting_list_pairs(pair_bands, ["band", "bucket"])
                .select("id_a", "id_b")
                .distinct()
            )
            if old is not None:
                cross = (
                    pair_bands.withColumnRenamed("id", "new_id")
                    .join(old.withColumnRenamed("id", "old_id"), ["band", "bucket"])
                    .select(
                        F.least("new_id", "old_id").alias("id_a"),
                        F.greatest("new_id", "old_id").alias("id_b"),
                    )
                    .filter(F.col("id_a") != F.col("id_b"))
                    .distinct()
                )
                pairs = intra.unionByName(cross).distinct()
            else:
                pairs = intra
            # materialize pairs BEFORE appending: the probe must not see
            # the batch's own rows through the index
            out = pairs.localCheckpoint(eager=True)
            if not replay:  # ledger says applied: index stays untouched
                self._apply(batch_id, bands)
            return out
        finally:
            bands.unpersist()

    def batch_bands(self, batch_id: str) -> DataFrame:
        """The band rows a completed batch appended — what a replayed
        :meth:`add` subtracts from the probe view (by id)."""
        return self._recorded(batch_id)


class ExactIndex(_LedgeredIndex):
    """Persistent content-hash index for INCREMENTAL exact dedup — the
    exact-match sibling of :class:`LshIndex`. A growing corpus dedups
    each arriving batch against everything already ingested WITHOUT
    rescanning the corpus: the index stores md5(text) hashes partitioned
    by a 2-hex-char prefix (256 partitions), and a batch probe reads
    ONLY the partitions its own hashes land in — partition pruning the
    planner applies from the parquet directory layout, so a small batch
    touches a small corpus fraction and per-batch cost is
    O(batch + matching partitions), not O(corpus).

    ``add()`` returns the batch rows that survive: first occurrence per
    hash within the batch (smallest id — deterministic), minus anything
    already indexed. Union over batches equals a global
    first-occurrence-by-(batch, id) dedup (oracle-gated). Appends are
    flock-serialized against ``compact()``'s directory swap, same
    protocol as LshIndex.
    """

    _SCHEMA = "h string, pfx string"
    _RECORD_SCHEMA = "h string"

    def __init__(self, spark, path: str):
        self._open(spark, path, "hashes")

    def add(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """Dedup ``docs`` against the index AND within the batch, index
        the survivors' hashes, and return the survivors as (id, h)."""
        batch = (
            docs.select(
                F.col(id_col).cast("long").alias("id"),
                F.md5(F.col(text_col)).alias("h"),
            )
            .groupBy("h")
            .agg(F.min("id").alias("id"))
            .withColumn("pfx", F.substring("h", 1, 2))
            .persist()
        )
        try:
            prefixes = [r["pfx"] for r in batch.select("pfx").distinct().collect()]
            old = self._existing()
            if old is not None and prefixes:
                # .where on the partition column prunes to the batch's
                # own prefix directories — the incremental cost story.
                probe = old.where(F.col("pfx").isin(prefixes)).select("h")
                fresh = batch.join(probe, "h", "left_anti")
            else:
                fresh = batch
            # Truncate lineage BEFORE the append mutates the directory:
            # the returned frame must not recompute against an index
            # that now contains this very batch (and a plain persist()
            # would be dropped by the batch.unpersist() cascade below).
            fresh = fresh.localCheckpoint(eager=True)
            self.append_hashes(fresh)
            return fresh.select("id", "h")
        finally:
            batch.unpersist()

    def seen(self, hashes: DataFrame) -> DataFrame:
        """Subset of ``hashes`` (column ``h``) already present in the
        index, reading ONLY the prefix partitions the probe's own
        hashes land in — the partition-pruned probe `add()` uses,
        exposed so paragraph-granularity dedup
        (:func:`~sonnerie_spark.operators.text.dedup_paragraphs_incremental`)
        can compose the index without re-implementing its layout."""
        hp = (
            hashes.select("h")
            .distinct()
            .withColumn("pfx", F.substring("h", 1, 2))
        )
        prefixes = [r["pfx"] for r in hp.select("pfx").distinct().collect()]
        old = self._existing()
        if old is None or not prefixes:
            return hp.select("h").limit(0)
        return hp.join(
            old.where(F.col("pfx").isin(prefixes)).select("h"),
            "h",
            "left_semi",
        ).select("h")

    def append_hashes(self, hashes: DataFrame, batch_id: str | None = None) -> None:
        """Append hashes (column ``h``; caller guarantees they are not
        already indexed and has truncated lineage if the frame derives
        from a read of this index) under the index flock.

        With ``batch_id``, the append is an idempotence-ledger entry
        (the DdStore pattern at this store's granularity): an id whose
        ledger entry exists is a NO-OP under the same flock, and a new
        id records the appended hash set at ``applied/<id>`` so a
        replayed probe can reconstruct the pre-batch index view
        (:func:`~sonnerie_spark.operators.text.dedup_paragraphs_incremental`).
        A crash between the append and the seal is HEALED on the next
        touch of this batch_id from the recording — the fresh set the
        first run computed against the PRE-batch view (duplicate hash
        rows are tolerated by every probe, which joins semi/anti on
        ``h``, and healed by :meth:`compact`) — never recomputed against
        an index already polluted by the dead attempt."""
        self._apply(batch_id, hashes.select("h"))

    def batch_hashes(self, batch_id: str) -> DataFrame:
        """The hash set a completed batch appended — what a replayed
        probe subtracts from ``seen()`` to reconstruct the pre-batch
        index view."""
        return self._recorded(batch_id)

    def _append(self, df: DataFrame) -> None:
        """Sized by row count, not shuffle parallelism: a partitionBy
        write from every shuffle partition emits tasks x 256 tiny
        files (measured 20 s for a 20k-row batch at 32 tasks); hashing
        pfx into ceil(rows/250k) tasks bounds the append at ~256 files
        total while big ingests still fan out."""
        n_tasks = min(256, max(1, df.count() // 250_000 + 1))
        df.select("h").withColumn("pfx", F.substring("h", 1, 2)).repartition(
            n_tasks, "pfx"
        ).write.mode("append").partitionBy("pfx").parquet(self._data)

    def _rewrite(self, old: DataFrame, tmp: str) -> None:
        (
            # the index is a hash SET: crash-recovery double-appends
            # are redundant rows, healed here
            old.dropDuplicates(["h"])
            .repartition("pfx")
            .sortWithinPartitions("h")
            .write.partitionBy("pfx")
            .parquet(tmp)
        )


def _chunk_ranges(bits: int, chunks: int) -> list[tuple[int, int]]:
    """Partition ``bits`` into exactly ``chunks`` contiguous
    (start_offset, width) ranges with mixed floor/ceil widths — the
    first ``bits % chunks`` ranges get the ceil width, so every range
    covers >= 1 real bit and the last never starts past the hash."""
    base, rem = divmod(bits, chunks)
    out, start = [], 0
    for i in range(chunks):
        w = base + (1 if i < rem else 0)
        out.append((start, w))
        start += w
    return out


def _chunk_value_exprs(col: str, bits: int, chunks: int) -> list:
    """One Column per chunk extracting that chunk's bit range from the
    nonnegative long ``col``: (col >> start) & ((1 << width) - 1),
    written as div + bitwise-AND with Python-computed literals so no
    shift amount ever reaches bit 63 (Spark wraps shifts mod 64 and
    bit 63 is the sign bit — the exact aliasing the r8 ceil split
    tripped over)."""
    from pyspark.sql import functions as F

    return [
        F.expr(f"({col} div {1 << start}L) & {(1 << width) - 1}L")
        for start, width in _chunk_ranges(bits, chunks)
    ]


def hamming_near_pairs(
    df,
    id_col: str,
    hash_col: str,
    *,
    bits: int = 63,
    max_hamming: int = 8,
    chunks: int | None = None,
) -> "DataFrame":
    """All pairs within ``max_hamming`` bit flips of each other over a
    nonnegative ``bits``-bit integer hash column (SimHash, dHash) —
    pigeonhole chunk blocking, NO all-pairs join: split the hash into
    exactly ``chunks`` contiguous NON-EMPTY bit ranges (default
    ``max_hamming + 1``; mixed floor/ceil widths so every chunk covers
    >= 1 real bit); any pair within the budget leaves at least one
    chunk untouched, so an equi-join on (chunk_idx, chunk_val) finds
    every candidate and an exact ``bit_count(xor)`` verify filters it.
    Output ``(id_a, id_b, hamming)`` with id_a < id_b.

    Scale shape: candidates are bounded by per-chunk-value bucket
    sizes (the same skew consideration as LSH band buckets); the
    corpus never self-joins on anything wider than a chunk value.
    Every chunk is non-empty BY CONSTRUCTION: a ceil-width split
    (the r8 version) let a trailing chunk start at or past bit
    ``bits``, whose value degenerated to the constant 0 for every
    row — silently turning that chunk's equi-join into a full
    O(n^2) cross join (correct output, catastrophic plan).
    ``chunks > bits`` would force an empty chunk, so it raises.
    """
    from pyspark.sql import functions as F

    c = int(chunks) if chunks is not None else int(max_hamming) + 1
    if c < max_hamming + 1:
        raise ValueError(
            f"chunks={c} cannot guarantee max_hamming={max_hamming}: "
            "a pair may touch every chunk (need chunks > max_hamming)"
        )
    if not (1 <= bits <= 63):
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    if c > bits:
        raise ValueError(
            f"chunks={c} > bits={bits}: a chunk would cover zero "
            "bits, making its value a constant (every row joins "
            "every row on it — an all-pairs cross join)"
        )
    # Both join sides derive from the hash table; without a persist the
    # upstream per-row hash pipeline (for image inputs: the full python
    # decode) runs once per side — the same cache contract as
    # simhash_near_pairs' signature table. 2 narrow columns per row,
    # negligible vs the corpus; released by ContextCleaner GC.
    base = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("h")
    ).filter(F.col("h").isNotNull()).persist()
    ch = base.select(
        "id",
        "h",
        F.posexplode(
            F.array(*_chunk_value_exprs("h", bits, c))
        ).alias("ci", "cv"),
    )
    a = ch.select(
        F.col("id").alias("id_a"), F.col("h").alias("ha"), "ci", "cv"
    )
    b = ch.select(
        F.col("id").alias("id_b"), F.col("h").alias("hb"), "ci", "cv"
    )
    cand = (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    ).cast("int")
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_near_pairs_words(
    df,
    id_col: str,
    hash_col: str,
    *,
    words: int,
    bits_per_word: int = 63,
    max_hamming: int = 8,
    chunks: int | None = None,
) -> "DataFrame":
    """:func:`hamming_near_pairs` for hashes WIDER than one long —
    128-bit pHash/SimHash territory, stored as an ``array<bigint>`` of
    exactly ``words`` nonnegative ``bits_per_word``-bit words (word 0
    = lowest bits; 63 bits per word is the cross-engine-safe packing,
    same boundary as bloom_sketch). Same pigeonhole guarantee: the
    ``words * bits_per_word`` total bits are partitioned into exactly
    ``chunks`` (default ``max_hamming + 1``) NON-EMPTY ranges, each
    contained within a single word, so any pair within budget shares
    at least one chunk value and the equi-join on (chunk_idx,
    chunk_val) finds every candidate; the exact verify sums
    ``bit_count(xor)`` across words. Output ``(id_a, id_b, hamming)``
    with id_a < id_b.

    Chunks never span a word boundary (extraction stays one div + one
    AND on one array element), which needs ``chunks >= words`` — at
    fewer chunks than words a range would have to straddle two
    elements; raise rather than emit a multi-element chunk value.
    Every chunk is non-empty by the same mixed floor/ceil split as the
    single-word path, so no chunk value can degenerate to a constant
    (the all-pairs-join failure mode).

    Scale shape: identical to the single-word path — candidates
    bounded by per-chunk-value buckets, corpus never self-joins wider
    than a chunk value; cost is linear in ``chunks``, not in hash
    width.
    """
    from pyspark.sql import functions as F

    c = int(chunks) if chunks is not None else int(max_hamming) + 1
    if c < max_hamming + 1:
        raise ValueError(
            f"chunks={c} cannot guarantee max_hamming={max_hamming}: "
            "a pair may touch every chunk (need chunks > max_hamming)"
        )
    if words < 1:
        raise ValueError(f"words must be >= 1, got {words}")
    if not (1 <= bits_per_word <= 63):
        raise ValueError(
            f"bits_per_word must be in [1, 63], got {bits_per_word}"
        )
    if c < words:
        raise ValueError(
            f"chunks={c} < words={words}: a chunk would span a word "
            "boundary; use chunks >= words (the guarantee only needs "
            "chunks > max_hamming, so raise chunks, not max_hamming)"
        )
    if c > words * bits_per_word:
        raise ValueError(
            f"chunks={c} > total bits {words * bits_per_word}: a "
            "chunk would cover zero bits (constant value -> all-pairs "
            "cross join)"
        )
    # distribute chunks over words (first `rem` words get one more),
    # then split each word's bits into its chunk count — every chunk
    # sits inside one word and covers >= 1 bit.
    per_word, rem = divmod(c, words)
    cv_exprs = []
    for wi in range(words):
        n_i = per_word + (1 if wi < rem else 0)
        elem = f"element_at(h, {wi + 1})"
        cv_exprs.extend(_chunk_value_exprs(elem, bits_per_word, n_i))
    # same cache contract as the single-word path above: both join
    # sides share one evaluation of the upstream hash pipeline
    base = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    ).filter(F.col("h").isNotNull() & (F.size("h") == words)).persist()
    ch = base.select(
        "id", "h", F.posexplode(F.array(*cv_exprs)).alias("ci", "cv")
    )
    a = ch.select(
        F.col("id").alias("id_a"), F.col("h").alias("ha"), "ci", "cv"
    )
    b = ch.select(
        F.col("id").alias("id_b"), F.col("h").alias("hb"), "ci", "cv"
    )
    cand = (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.expr(
        "aggregate(zip_with(ha, hb,"
        " (x, y) -> cast(bit_count(x ^ y) AS int)),"
        " 0, (acc, v) -> acc + v)"
    )
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )

