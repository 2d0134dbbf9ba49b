"""N-gram language-model scoring and importance resampling.

Two corpus-curation stages every large-scale training-data pipeline
runs between dedup and mixing:

- **Bigram-LM fluency scoring** (the CCNet / KenLM pattern): train
  add-k-smoothed bigram statistics on a trusted reference slice (e.g.
  one language or one vetted source), score every document by its mean
  smoothed bigram probability, and filter/bucket on the score. The
  reference pipeline buckets documents into head/middle/tail by LM
  perplexity; the same train-on-slice / score-everything shape is
  implemented here.
- **DSIR importance reweighting** (Data Selection via Importance
  Resampling): hash tokens into a fixed number of feature buckets,
  estimate target vs raw feature distributions, and weight each
  document by its mean target/raw likelihood ratio; select the top-k.

Both expose an *integer-exact* score so the DuckDB oracle comparison is
bitwise: every per-gram probability is a ratio of integer counts, scaled
by ``LM_SCALE`` and floor-divided (Spark ``div`` == DuckDB ``//`` on
integers), then summed as BIGINT — order-independent, no float
summation anywhere on the gated path. A conventional float
log-perplexity is also provided for interactive use
(:func:`lm_perplexity`).

Scale design (100 TB corpus):
- LM training is one explode + hash-aggregate per n-gram order
  (map-side partial combine; shuffle keyed on the gram).
- Vocabulary is capped at ``vocab_size`` types (rank by count desc,
  token asc), OOV folds to ``<unk>`` — so the unigram/prefix table is
  always broadcastable. The bigram table is bounded by the observed
  bigrams of a *capped* vocabulary; at extreme scale pass
  ``hash_buckets`` to fold bigrams into a fixed-width hashed table
  (hash-gram LM) that broadcasts no matter the corpus size.
- Scoring is map-only bigram formation (array slice + zip — no
  per-document window/lag shuffle) + broadcast joins + one final
  hash-aggregate on doc id.
- DSIR tables are ``num_buckets`` rows by construction — broadcast
  always; corpus totals ride 1-row broadcast cross-joins. Top-k uses
  orderBy().limit() (TakeOrderedAndProject — per-partition heaps + a
  driver merge of k rows, never a single-task global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from sonnerie_spark.functions.portable_hash import phash, phash_sql

__all__ = [
    "LM_SCALE",
    "UNK",
    "lm_tokens",
    "lm_vocab",
    "lm_bigram_counts",
    "lm_doc_score",
    "lm_kn_counts",
    "lm_kn_doc_score",
    "lm_perplexity",
    "lm_bucket_split",
    "dsir_bucket_counts",
    "dsir_doc_weights",
    "dsir_topk",
]

LM_SCALE = 1_000_000_000  # per-gram probabilities in 1e-9 units
# DSIR ratios multiply three counts before the scale factor; 1e-6 units
# keep the BIGINT product exact to corpus sizes ~9e12 token·bucket-count
DSIR_SCALE = 1_000_000
UNK = "<unk>"


def lm_tokens(text: Column) -> Column:
    """Case-folded whitespace tokens (the LM's token convention)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _bigrams(toks: Column) -> Column:
    """Adjacent-token pairs as array<struct<w1,w2>> — array-native
    (slice + zip), so bigram formation is map-only: no posexplode /
    window-lag shuffle per document."""
    n = F.size(toks)
    return F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )


def lm_vocab(
    ref: DataFrame, text_col: str, *, vocab_size: int
) -> DataFrame:
    """Top-``vocab_size`` token types of the reference slice.

    Rank is (count desc, token asc) — fully deterministic. Returns
    ``(tok)``; always ≤ vocab_size rows, hence broadcastable.
    """
    counts = (
        ref.select(F.explode(lm_tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .count()
    )
    # top-V of the aggregated type table via orderBy+limit =
    # TakeOrderedAndProject (per-partition heaps + a V-row driver
    # merge) — never a single-task global rank, even at web-corpus
    # type cardinalities
    return (
        counts.orderBy(F.col("count").desc(), F.col("tok"))
        .limit(vocab_size)
        .select("tok")
    )


def lm_bigram_counts(
    ref: DataFrame,
    text_col: str,
    *,
    vocab_size: int,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Train the LM: returns (vocab, unigram_counts, bigram_counts,
    v_eff).

    - vocab: ≤ vocab_size rows of ``(tok)``.
    - unigram_counts: ``(w, c1)`` — occurrences of each *mapped* token
      (OOV folded to ``<unk>``) across the reference; broadcastable.
    - bigram_counts: ``(w1, w2, c2)`` — mapped adjacent-pair counts.
    - v_eff: smoothing vocabulary size = |vocab| + 1 (the ``<unk>``
      type is always reserved), used as the add-k denominator term.
    """
    # Blockify the vocabulary ONCE (eager localCheckpoint): the vocab
    # frame is the build side of MANY downstream broadcast joins (the
    # unigram mapping here, t1/t2 folding in the bigram table, and both
    # sides of every _doc_gram_counts call), and Catalyst re-evaluates
    # the unmaterialized subtree — reference-corpus token explode +
    # type count + top-V — once per build (measured 6+ reference scans
    # in the lm_score_* plans; guide §2.4). The checkpoint holds
    # ≤ vocab_size rows by construction. v_eff (the |vocab| the
    # smoothing needs anyway) rides the checkpoint job as an observed
    # metric — a separate count() was a second blocking job per LM
    # gate, pure barrier (the blocks were already local).
    _obs = Observation()
    vocab = (
        lm_vocab(ref, text_col, vocab_size=vocab_size)
        .observe(_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    v_eff = int(_obs.get["n"]) + 1

    toks = lm_tokens(F.col(text_col))
    ex = ref.select(F.explode(toks).alias("tok"))
    mapped = (
        ex.join(
            F.broadcast(vocab.withColumn("_v", F.lit(1))), "tok", "left"
        )
        .select(
            F.when(F.col("_v").isNotNull(), F.col("tok"))
            .otherwise(UNK)
            .alias("w")
        )
    )
    uni = mapped.groupBy("w").agg(F.count("*").alias("c1"))

    bg = ref.select(F.explode(_bigrams(toks)).alias("g")).select(
        F.col("g.w1").alias("t1"), F.col("g.w2").alias("t2")
    )
    v1 = vocab.select(F.col("tok").alias("t1"), F.lit(1).alias("_v1"))
    v2 = vocab.select(F.col("tok").alias("t2"), F.lit(1).alias("_v2"))
    bi = (
        bg.join(F.broadcast(v1), "t1", "left")
        .join(F.broadcast(v2), "t2", "left")
        .select(
            F.when(F.col("_v1").isNotNull(), F.col("t1"))
            .otherwise(UNK)
            .alias("w1"),
            F.when(F.col("_v2").isNotNull(), F.col("t2"))
            .otherwise(UNK)
            .alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    return vocab, uni, bi, v_eff


def _doc_gram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    vocab: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    with_words: bool = False,
) -> DataFrame:
    """Per-bigram model counts for every document: ``(id, c1, c2)`` —
    one row per bigram occurrence after OOV folding, with the model's
    prefix and pair counts attached (0 when unseen). Shared by the
    integer score and the float perplexity."""
    toks = lm_tokens(F.col(text_col))
    ex = df.select(
        F.col(id_col).alias("id"), F.explode(_bigrams(toks)).alias("g")
    ).select("id", F.col("g.w1").alias("t1"), F.col("g.w2").alias("t2"))

    v1 = vocab.select(F.col("tok").alias("t1"), F.lit(1).alias("_v1"))
    v2 = vocab.select(F.col("tok").alias("t2"), F.lit(1).alias("_v2"))
    mapped = (
        ex.join(F.broadcast(v1), "t1", "left")
        .join(F.broadcast(v2), "t2", "left")
        .select(
            "id",
            F.when(F.col("_v1").isNotNull(), F.col("t1"))
            .otherwise(UNK)
            .alias("w1"),
            F.when(F.col("_v2").isNotNull(), F.col("t2"))
            .otherwise(UNK)
            .alias("w2"),
        )
    )
    keep = ["id"] + (["w1", "w2"] if with_words else [])
    return (
        mapped.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), "c1")),
            "w1",
            "left",
        )
        .join(bi, ["w1", "w2"], "left")
        .select(
            *keep,
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
        )
    )


def lm_doc_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    vocab: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    v_eff: int,
) -> DataFrame:
    """Integer-exact add-½ bigram score per document.

    Per bigram (w1, w2) after OOV folding, the smoothed probability
    p = (c2 + ½) / (c1 + ½·v_eff) is scored as the exact integer
    ``(2·c2 + 1) · LM_SCALE div (2·c1 + v_eff)`` — Spark ``div`` and
    DuckDB ``//`` are both exact floor division on BIGINT, and the
    per-document sum of integers is order-independent, so the oracle
    comparison is bitwise at any scale factor.

    Returns ``(id, n_bigrams, score_sum, score_mean_q)`` for documents
    with ≥ 1 bigram; score_mean_q = score_sum div n_bigrams is the mean
    smoothed bigram probability in 1e-9 units (higher = more fluent
    under the reference LM).

    Scale: bigram formation is array-native (map-only); vocab and
    unigram joins broadcast (≤ vocab_size rows); the bigram-count join
    keys on (w1, w2) — broadcast when small, hash-partitioned equi-join
    otherwise; one final hash agg on id. Counts beyond ~4·10⁹ need the
    DECIMAL(38,0) widening of the numerator product (2·c2+1)·LM_SCALE;
    BIGINT is exact through c2 ≈ 4.6e9.
    """
    j = _doc_gram_counts(df, id_col, text_col, vocab=vocab, uni=uni, bi=bi)
    score_q = F.expr(
        f"(2*c2 + 1) * {LM_SCALE}L div (2*c1 + {v_eff})"
    ).alias("score_q")
    return (
        j.select("id", score_q)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("score_q").alias("score_sum"),
        )
        .withColumn(
            "score_mean_q", F.expr("score_sum div n_bigrams")
        )
    )


def lm_kn_counts(
    bi: DataFrame, *, n_dd: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Continuation statistics for Kneser-Ney smoothing, derived from
    the already-trained bigram table — NO new corpus scan:

    - ``pre``: ``(w1, n1f, ptot)`` — per prefix, the distinct
      continuation count N1+(w1, ·) AND the bigram-prefix TOTAL
      sum_w2 c(w1, w2). The prefix total — not the unigram count,
      which also counts document-final occurrences that start no
      bigram — is KN's denominator; using c1 would subnormalize every
      prefix that ends a document (r7 review).
    - ``n1b``: ``(w2, n1b)`` — distinct predecessors of each word,
      N1+(·, w2) (the continuation-probability numerator — KN's key
      insight: how many contexts a word FOLLOWS, not how often it
      occurs);
    - ``n_dd``: distinct bigram types, N1+(·, ·).

    Both tables are bounded by the (capped) vocabulary, hence
    broadcastable like the unigram table. Callers should pass a
    MATERIALIZED ``bi`` (see lm_kn_doc_score) — these three
    aggregations plus the scoring join would otherwise re-run the
    reference-corpus training lineage once each.
    """
    pre = bi.groupBy("w1").agg(
        F.count(F.lit(1)).alias("n1f"), F.sum("c2").alias("ptot")
    )
    n1b = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    # n_dd= lets a caller that already knows bi's row count (e.g. as
    # an observed metric of bi's own materialization job) skip the
    # count() action — a blocking job over already-local blocks
    return pre, n1b, int(bi.count()) if n_dd is None else int(n_dd)


def lm_kn_doc_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    vocab: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    discount_q4: int = 3,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    smoothing KenLM — and therefore CCNet's LMs — uses), integer-exact
    like :func:`lm_doc_score` (which is the simpler add-½ variant).

    Per mapped bigram, with discount D = ``discount_q4``/4 (3/4 is the
    standard absolute discount) and ptot(w1) = sum_w2 c(w1,w2) the
    bigram-PREFIX total (not the unigram count, which also counts
    document-final occurrences and would subnormalize):

        P(w2|w1) = (max(c12 - D, 0) + D·N1+(w1,·)·Pcont(w2)) / ptot(w1)
        Pcont(w2) = N1+(·,w2) / N1+(·,·)

    which is exactly (multiply through by 4·ptot·N1+(·,·)):

        q = 1e9·(max(4·c12 − dq4, 0)·n_dd + dq4·n1f·n1b)
            div (4·ptot·n_dd)

    — every factor an integer, the product DECIMAL(38,0)/HUGEINT-
    widened (exact while 1e9·4·c12·n_dd < 1e38, i.e. any corpus below
    ~1e14 tokens with ~1e13 bigram types), the division exact floor,
    the result cast back to BIGINT (the docstring bound keeps it
    exact) — so the score is bit-identical cross-engine. A prefix
    never seen STARTING a bigram (ptot = 0, incl. OOV) backs off to
    the pure continuation probability ``1e9·n1b div n_dd``. Discounted
    mass balances exactly: sum over ALL w2 of P(w2|w1) = 1 for every
    observed prefix (each observed continuation cedes D of its count;
    the ceded D·N1+(w1,·) is redistributed over the full Pcont
    distribution, which sums to 1).

    Returns ``(id, n_bigrams, score_sum, score_mean_q)`` like
    lm_doc_score. Plan: ``bi`` is blockified once (eager
    localCheckpoint) so the three continuation aggregations and the
    scoring join read materialized data instead of re-running the
    reference-corpus training lineage four times; the continuation
    dims broadcast (vocabulary-bounded) and n_dd is a 1-row literal —
    no new shuffle class over the add-½ plan.
    """
    if not 1 <= int(discount_q4) <= 3:
        raise ValueError(
            f"discount_q4 must be 1..3 (D = q/4 in (0,1)), got {discount_q4}"
        )
    # n_dd (distinct bigram types = bi's row count) rides the
    # checkpoint job as an observed metric — lm_kn_counts' bi.count()
    # was a second blocking job over already-local blocks (the same
    # barrier class as lm_bigram_counts' vocab count)
    _obs = Observation()
    bi = bi.observe(_obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n_dd = int(_obs.get["n"])
    pre, n1b, _ = lm_kn_counts(bi, n_dd=n_dd)
    if n_dd == 0:
        raise ValueError(
            "lm_kn_doc_score: the trained bigram table is empty (no "
            "reference document has >= 2 tokens) - every score would "
            "be a silent NULL division"
        )
    j = _doc_gram_counts(
        df, id_col, text_col, vocab=vocab, uni=uni, bi=bi, with_words=True
    )
    j = (
        j.join(F.broadcast(pre), "w1", "left")
        .join(F.broadcast(n1b), "w2", "left")
        .select(
            "id",
            "c2",
            F.coalesce("ptot", F.lit(0)).alias("ptot"),
            F.coalesce("n1f", F.lit(0)).alias("n1f"),
            F.coalesce("n1b", F.lit(0)).alias("n1b"),
        )
    )
    dq4 = int(discount_q4)
    dec = "DECIMAL(38,0)"
    score_q = F.expr(
        f"CAST(CASE WHEN ptot > 0 THEN "
        f"CAST({LM_SCALE} AS {dec}) * ("
        f"  CAST(greatest(4*c2 - {dq4}, 0) AS {dec}) * CAST({n_dd} AS {dec})"
        f"  + CAST({dq4} AS {dec}) * CAST(n1f AS {dec}) * CAST(n1b AS {dec})"
        f") div (CAST(4 AS {dec}) * CAST(ptot AS {dec}) * CAST({n_dd} AS {dec}))"
        f" ELSE CAST({LM_SCALE} AS {dec}) * CAST(n1b AS {dec})"
        f" div CAST({n_dd} AS {dec}) END AS BIGINT)"
    ).alias("score_q")
    return (
        j.select("id", score_q)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("score_q").alias("score_sum"),
        )
        .withColumn("score_mean_q", F.expr("score_sum div n_bigrams"))
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    vocab: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    v_eff: int,
) -> DataFrame:
    """Conventional float log-perplexity under the same add-½ bigram
    model: exp(−mean log p). Float sums are order-dependent across
    engines, so this variant is for interactive filtering (CCNet-style
    head/middle/tail bucketing); the oracle-gated path is
    :func:`lm_doc_score`."""
    scored = lm_doc_score(
        df, id_col, text_col, vocab=vocab, uni=uni, bi=bi, v_eff=v_eff
    )
    # mean log p over the quantized per-doc aggregate is NOT recoverable
    # (sum of probabilities ≠ sum of logs); recompute with logs.
    j = _doc_gram_counts(df, id_col, text_col, vocab=vocab, uni=uni, bi=bi)
    logp = F.log((2 * F.col("c2") + 1) / (2 * F.col("c1") + F.lit(v_eff)))
    per_doc = j.groupBy("id").agg(
        F.count("*").alias("n_bigrams"), F.sum(logp).alias("logp_sum")
    )
    return per_doc.select(
        "id",
        "n_bigrams",
        F.exp(-F.col("logp_sum") / F.col("n_bigrams")).alias("ppl"),
    ).join(scored.select("id", "score_mean_q"), "id")


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (hashed features)
# ---------------------------------------------------------------------------


def _bucket(tok: Column, num_buckets: int) -> Column:
    return F.pmod(phash(tok), F.lit(num_buckets))


def dsir_bucket_counts(
    df: DataFrame, text_col: str, *, num_buckets: int
) -> DataFrame:
    """Hashed-unigram feature counts: ``(b, c)`` for b in
    [0, num_buckets). Exactly ≤ num_buckets rows — broadcastable
    regardless of corpus size (this fixed-width table is the point of
    DSIR's hashed features)."""
    return (
        df.select(F.explode(lm_tokens(F.col(text_col))).alias("tok"))
        .select(_bucket(F.col("tok"), num_buckets).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
    )


def dsir_doc_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    target: DataFrame,
    num_buckets: int,
) -> DataFrame:
    """Per-document importance weight: the mean smoothed target/raw
    likelihood ratio over the document's hashed token features.

    Per token with feature bucket b, the add-1-smoothed ratio
    r = [(ct+1)/(Ct+B)] / [(cr+1)/(Cr+B)] is scored as the exact
    integer ``(ct+1)·(Cr+B)·DSIR_SCALE div ((cr+1)·(Ct+B))`` — pure
    BIGINT arithmetic, identical in Spark and DuckDB, so the gate
    compares bitwise. (Classical DSIR weights are the *product* of
    ratios — a log-sum float; the mean-ratio variant ranks similarly
    and stays integer-exact. :func:`lm_perplexity` shows the float
    pattern if log-products are wanted interactively.)

    ``df`` is the raw corpus (also the denominator distribution);
    ``target`` is the slice whose distribution we want more of.
    Returns ``(id, n_tokens, w_sum, w_mean_q)``.

    Scale: both count tables are ≤ num_buckets rows (broadcast); totals
    are 1-row broadcast cross-joins; scoring is map-only + one hash agg
    on id. BIGINT stays exact while (ct+1)·(Cr+B)·DSIR_SCALE < 2⁶³ ≈
    9.2e18, i.e. count products to ~9.2e12; beyond that widen the
    numerator to DECIMAL(38,0).
    """
    from pyspark.sql import Window

    ct = dsir_bucket_counts(target, text_col, num_buckets=num_buckets)
    # The raw-corpus token total n_r is the sum of the raw bucket counts
    # (every token lands in exactly one bucket), so it rides the ≤B-row
    # bucket table as an unpartitioned window instead of a second full
    # corpus tokenization pass. It reaches every scored row through the
    # cr join: ex and cr derive from the same df, so every bucket in ex
    # exists in cr and the left join never drops it. The target total
    # keeps its own pass — ct's rows do NOT cover every ex bucket, so a
    # carried n_t could go missing; the target slice is the small side
    # by construction.
    cr = dsir_bucket_counts(df, text_col, num_buckets=num_buckets).withColumn(
        "n_r", F.sum("c").over(Window.partitionBy())
    )
    # totals named distinctly from the per-bucket counts: Spark resolves
    # case-insensitively, so `Ct` next to `ct` would be ambiguous
    tot_t = target.select(
        F.sum(F.size(lm_tokens(F.col(text_col)))).alias("n_t")
    )

    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(lm_tokens(F.col(text_col))).alias("tok"),
    ).select("id", _bucket(F.col("tok"), num_buckets).alias("b"))
    j = (
        ex.join(F.broadcast(ct.withColumnRenamed("c", "ct")), "b", "left")
        .join(F.broadcast(cr.withColumnRenamed("c", "cr")), "b", "left")
        .crossJoin(F.broadcast(tot_t))
        .select(
            "id",
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
            "n_t",
            "n_r",
        )
    )
    b = num_buckets
    w_q = F.expr(
        f"(ct + 1) * (n_r + {b}) * {DSIR_SCALE}L div ((cr + 1) * (n_t + {b}))"
    ).alias("w_q")
    return (
        j.select("id", w_q)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w_q").alias("w_sum"),
        )
        .withColumn("w_mean_q", F.expr("w_sum div n_tokens"))
    )


def lm_bucket_split(
    scored: DataFrame,
    *,
    group_col: str = "lang",
    score_col: str = "score_mean_q",
    id_col: str = "id",
) -> DataFrame:
    """CCNet's head/middle/tail split: within each group (language),
    rank documents by LM score (desc, id tie-break) and cut into exact
    thirds — ``head`` = most fluent under the reference LM.

    Integer keep-rule (3·rk ≤ n, 3·rk ≤ 2n) — no float quantiles, so
    the oracle gate is exact. The rank window runs over the *per-doc
    score table* (one row per document, partitioned by group), the same
    shuffle class as the quality-gate window in the curation composite;
    at extreme per-group cardinality swap in a range-partitioned
    two-phase rank (see sampling.deterministic_shuffle for the
    pattern).
    """
    from pyspark.sql import Window

    wp = Window.partitionBy(group_col)
    w = wp.orderBy(F.col(score_col).desc(), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wp))
        .select(
            id_col,
            group_col,
            score_col,
            F.when(F.col("rk") * 3 <= F.col("n"), "head")
            .when(F.col("rk") * 3 <= F.col("n") * 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


def dsir_topk(weights: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k selection by (w_mean_q desc, id asc).

    orderBy().limit() compiles to TakeOrderedAndProject: per-partition
    k-heaps and a k-row driver merge — never a one-task global sort.
    """
    return weights.orderBy(F.col("w_mean_q").desc(), F.col("id")).limit(k)
