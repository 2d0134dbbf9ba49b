"""Mergeable distinct-count sketches (HyperLogLog), engine-portable.

At 100 TB, exact COUNT(DISTINCT) is a full shuffle of every distinct
value; an HLL sketch reduces the same question to one map-side-combined
hash aggregate producing ``2^b`` integer rows, mergeable across
partitions, runs, and days (merge = per-bucket max). This
implementation is deterministic end-to-end — bucket and rank derive
from the portable md5 hash (functions/portable_hash.py), and the rank
(leading-zero count) is computed by a pure-integer comparison ladder —
so the DuckDB oracle reproduces the sketch bit-for-bit; no engine's
built-in approx_count_distinct (implementation-specific) is involved.

Estimation (float) happens driver-side on the ≤ 2^b-row collected
sketch — bounded dimension data, same class as IVF centroids.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, functions as F

from sonnerie_spark.fsutil import (
    load_generation,
    publish_generation,
    store_lock,
    tmp_name,
    write_json_atomic,
)
from sonnerie_spark.functions.portable_hash import HASH_BITS, phash, phash_sql

__all__ = [
    "hll_sketch",
    "hll_merge",
    "hll_estimate",
    "hll_rho_sql",
    "hll_sketch_sql",
    "cms_sketch",
    "cms_sketch_sql",
    "cms_merge",
    "cms_topk",
    "bloom_sketch",
    "bloom_sketch_sql",
    "bloom_probe_sql",
    "bloom_might_contain",
    "kmv_sketch",
    "kmv_sketch_sql",
    "kmv_merge",
    "kmv_overlap",
    "dd_sketch",
    "dd_sketch_sql",
    "dd_sketch_grouped",
    "dd_sketch_grouped_sql",
    "dd_group_quantile",
    "dd_group_quantile_sql",
    "dd_merge",
    "dd_quantiles",
    "hll_sketch_grouped",
    "hll_estimates_grouped",
    "HllStore",
    "BloomStore",
    "DdStore",
]


def _ilog2_sql(var: str, max_bits: int) -> str:
    """floor(log2(var)) for var >= 1 as a pure comparison ladder —
    identical ANSI CASE arithmetic in Spark SQL and DuckDB (no float
    log2, whose ulp at exact powers of two differs per libm)."""
    terms = " + ".join(
        f"(CASE WHEN {var} >= {1 << k} THEN 1 ELSE 0 END)"
        for k in range(1, max_bits + 1)
    )
    return f"({terms})"



def _tagged(df: DataFrame, col: str, **params) -> DataFrame:
    """Re-alias ``col`` with the sketch's build parameters as column
    metadata — survives select() and parquet roundtrips (aggregations
    drop it, so constructors and merges re-attach). Probes and merges
    read it back to REFUSE parameter mismatches that would otherwise
    corrupt results silently (wrong-width CMS merge, wrong-num_bits
    Bloom probe -> false negatives)."""
    cols = [
        F.col(c).alias(c, metadata=params) if c == col else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def sketch_params(df: DataFrame, col: str) -> dict:
    """The build parameters recorded by :func:`_tagged`, or {} if the
    frame lost them (e.g. it went through an aggregation)."""
    try:
        return dict(df.schema[col].metadata or {})
    except KeyError:
        return {}


def _require_params_match(fn: str, expected: dict, *gots: dict) -> None:
    """Raise if any recorded build parameter contradicts ``expected``
    (caller args) or another input's recording. Absent recordings are
    not validated — the guard never blocks untagged frames."""
    for got in gots:
        for k, v in expected.items():
            if k in got and got[k] != v:
                raise ValueError(
                    f"{fn}: sketch was built with {k}={got[k]} but this "
                    f"call uses {k}={v} — mismatched parameters corrupt "
                    "results silently, not approximately"
                )


def hll_rho_sql(y_expr: str, field_bits: int) -> str:
    """Rank of the hash remainder: leading zeros within ``field_bits``
    plus one; ``y = 0`` saturates at field_bits + 1. Portable SQL."""
    il = _ilog2_sql(y_expr, field_bits - 1)
    return (
        f"(CASE WHEN {y_expr} = 0 THEN {field_bits + 1} "
        f"ELSE {field_bits} - {il} END)"
    )


def _hll_index(
    df: DataFrame,
    value: Column | str,
    *,
    bucket_bits: int,
    group: Column | str | None = None,
) -> DataFrame:
    """The ORACLE-CRITICAL HLL register stage, shared by
    :func:`hll_sketch` and :func:`hll_sketch_grouped` so the arithmetic
    can never diverge between them (each NULL/bucket/rho fix used to
    need the same edit twice): per surviving row, ``bucket`` = low
    ``bucket_bits`` bits of the 60-bit portable hash and ``rho`` = the
    leading-zero rank of the remaining field, with an optional leading
    ``grp`` column. NULL values carry no identity: dropped (a null hash
    would form a spurious bucket=NULL row that corrupts the estimator's
    zeros term — and can push zeros negative, a log() domain error)."""
    m = 1 << bucket_bits
    field_bits = HASH_BITS - bucket_bits
    c = F.col(value) if isinstance(value, str) else value
    grp: list = []
    if group is not None:
        g = F.col(group) if isinstance(group, str) else group
        grp = [g.alias("grp")]
    withy = (
        df.select(*grp, phash(c).alias("h"))
        .where(F.col("h").isNotNull())
        .select(
            *(["grp"] if group is not None else []),
            F.pmod(F.col("h"), F.lit(m)).cast("int").alias("bucket"),
            F.expr(f"h div {m}").alias("y"),
        )
    )
    rho = F.expr(hll_rho_sql("y", field_bits)).alias("rho")
    return withy.select(
        *(["grp"] if group is not None else []), "bucket", rho
    )


def hll_sketch(
    df: DataFrame, value: Column | str, *, bucket_bits: int = 8
) -> DataFrame:
    """HLL sketch of a string column: ``(bucket, max_rho)``, one row per
    non-empty bucket (≤ 2^bucket_bits rows).

    Register stage shared with the grouped variant (:func:`_hll_index`).
    One hash aggregate with map-side partial max — the canonical scale
    plan: input rows never shuffle, only ≤ 2^b partial sketches per
    task do.
    """
    return _tagged(
        _hll_index(df, value, bucket_bits=bucket_bits)
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho")),
        "max_rho",
        bucket_bits=bucket_bits,
    )


def hll_sketch_sql(
    value_expr: str, from_clause: str, *, bucket_bits: int = 8
) -> str:
    """DuckDB oracle producing the identical sketch over
    ``SELECT {value_expr} FROM {from_clause}``."""
    m = 1 << bucket_bits
    field_bits = HASH_BITS - bucket_bits
    h = phash_sql(value_expr)
    return f"""
    SELECT bucket, max(rho) AS max_rho FROM (
      SELECT cast(h % {m} AS INTEGER) AS bucket,
             {hll_rho_sql(f"(h // {m})", field_bits)} AS rho
      FROM (SELECT {h} AS h FROM {from_clause})
      WHERE h IS NOT NULL
    ) GROUP BY bucket
    """


def cms_sketch(
    df: DataFrame,
    value: Column | str,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch: ``(row, col, c)`` — at most depth·width rows of
    integer counts, built by one map-side-combined aggregate (the
    explode multiplies rows by ``depth`` before the combine, but only
    ≤ depth·width partial counters per task reach the shuffle).
    Deterministic: row i uses the salted portable hash h_i."""
    c = F.col(value) if isinstance(value, str) else value
    # NULL values carry no identity: drop them (phash(null) is null ->
    # a spurious col=NULL counter row)
    ex = (
        df.select(c.alias("v"))
        .where(F.col("v").isNotNull())
        .select(
            "v",
            F.explode(
                F.array(*[F.lit(i) for i in range(depth)])
            ).alias("row"),
        )
    )
    col = F.pmod(
        phash(F.concat(F.col("row").cast("string"), F.lit("#"), F.col("v"))),
        F.lit(width),
    ).cast("int")
    return _tagged(
        ex.select("row", col.alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("c")),
        "c",
        depth=depth,
        width=width,
    )


def cms_sketch_sql(
    value_expr: str, from_clause: str, *, depth: int = 4, width: int = 1024
) -> str:
    """DuckDB oracle for the identical Count-Min sketch."""
    salts = ", ".join(f"({i})" for i in range(depth))
    h = phash_sql(f"cast(row AS varchar) || '#' || v")
    return f"""
    SELECT row, col, count(*) AS c FROM (
      SELECT row, cast({h} % {width} AS INTEGER) AS col
      FROM (SELECT {value_expr} AS v FROM {from_clause})
      CROSS JOIN (VALUES {salts}) AS s(row)
      WHERE v IS NOT NULL
    ) GROUP BY row, col
    """


def bloom_sketch(
    df: DataFrame,
    value: Column | str,
    *,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Bloom filter of a string column as a packed-word table:
    ``(word_idx, bits)``, ≤ num_bits/63 rows — the broadcastable
    membership sketch for corpus-scale decontamination / blocklist
    probes (a 2^30-bit filter is ~136 MiB: one broadcast, any corpus).

    Bit positions use Kirsch-Mitzenmacher double hashing (Kirsch &
    Mitzenmacher 2006, "Less Hashing, Same Performance"): ONE portable
    md5 hash per value, split into ``h1 = h % num_bits`` and
    ``h2 = 1 + (h div num_bits) % (num_bits - 1)``, probing positions
    ``(h1 + i*h2) % num_bits`` — k positions for one hash evaluation
    (the md5 is the per-probe cost driver; i-salted rehashing paid it
    k times), with the paper's asymptotically-identical FP guarantee.
    OR-packed into words by one map-side-combined ``bit_or`` aggregate
    — input rows never shuffle, only ≤ num_bits/63 partial words per
    task do. Words hold 63 bits (shifts capped at 62): a left shift
    INTO the sign bit is checked-overflow in DuckDB while Spark wraps,
    so bit 63 is the one position that cannot be packed portably.
    Deterministic, so the filter — and every false positive — is
    reproducible bit-for-bit in any engine.
    """
    if num_bits <= 1:
        raise ValueError(f"num_bits must exceed 1, got {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    c = F.col(value) if isinstance(value, str) else value
    # NULL values carry no identity: drop them (a null hash would OR a
    # spurious word_idx=NULL row into the filter)
    hs = (
        df.select(phash(c).alias("h"))
        .where(F.col("h").isNotNull())
        .selectExpr(
            f"h % {num_bits} AS h1",
            f"1 + (h div {num_bits}) % {num_bits - 1} AS h2",
        )
    )
    ex = hs.select(
        "h1",
        "h2",
        F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("i"),
    )
    out = (
        ex.selectExpr(f"(h1 + i * h2) % {num_bits} AS pos")
        .selectExpr(
            "cast(pos div 63 AS bigint) AS word_idx",
            "shiftleft(1L, cast(pos % 63 AS int)) AS w",
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("bits"))
    )
    return _tagged(out, "bits", num_bits=num_bits, num_hashes=num_hashes)


def bloom_sketch_sql(
    value_expr: str,
    from_clause: str,
    *,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> str:
    """DuckDB oracle producing the identical Bloom word table (the
    same Kirsch-Mitzenmacher position arithmetic as the Spark side)."""
    salts = ", ".join(f"({i})" for i in range(num_hashes))
    h = phash_sql("v")
    return f"""
    SELECT pos // 63 AS word_idx,
           bit_or(1::BIGINT << cast(pos % 63 AS INTEGER)) AS bits
    FROM (
      SELECT cast((h % {num_bits} + i * (1 + (h // {num_bits}) % {num_bits - 1}))
                  % {num_bits} AS BIGINT) AS pos
      FROM (SELECT {h} AS h FROM (SELECT {value_expr} AS v FROM {from_clause}))
      CROSS JOIN (VALUES {salts}) AS s(i)
      WHERE h IS NOT NULL
    ) GROUP BY 1
    """


def bloom_probe_sql(
    passthrough: str,
    from_clause: str,
    *,
    num_bits: int,
    num_hashes: int = 4,
) -> str:
    """Probe-position SQL shared by every Bloom oracle: expands each
    row of ``from_clause`` (which must expose the probed value as
    column ``v`` plus the ``passthrough`` columns) into num_hashes
    (passthrough, word_idx, mask) rows with the SAME Kirsch-
    Mitzenmacher arithmetic as :func:`bloom_sketch_sql` — one
    definition, so a hashing-scheme change cannot silently diverge
    between the operator and any gate's oracle."""
    salts = ", ".join(f"({i})" for i in range(num_hashes))
    h = phash_sql("v")
    nb = num_bits
    return f"""
      SELECT {passthrough}, pos // 63 AS word_idx,
             1::BIGINT << cast(pos % 63 AS INTEGER) AS mask
      FROM (
        SELECT {passthrough},
               cast((h % {nb} + i * (1 + (h // {nb}) % {nb - 1})) % {nb}
                    AS BIGINT) AS pos
        FROM (SELECT {passthrough}, {h} AS h FROM {from_clause})
        CROSS JOIN (VALUES {salts}) AS s(i)
      )"""


def bloom_might_contain(
    candidates: DataFrame,
    sketch: DataFrame,
    *,
    value: Column | str,
    num_bits: int,
    num_hashes: int = 4,
) -> DataFrame:
    """Probe a Bloom filter: returns ``candidates`` with a
    ``might_contain`` boolean appended — True iff ALL num_hashes probed
    bits are set (no false negatives; false-positive rate set by the
    fill factor, and deterministic given the same inputs).

    Plan — fully MAP-SIDE: one broadcast hash join per hash function
    against the ≤ num_bits/63-row word table (a probe that explodes k
    rows and hash-aggregates them back per candidate would shuffle the
    whole candidate stream; k tiny broadcast joins shuffle NOTHING at
    any corpus size). One row in, one row out, original columns kept.
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if "might_contain" in candidates.columns:
        raise ValueError(
            "bloom_might_contain: candidates already have a "
            "'might_contain' column (a previous probe's verdict?) — "
            "rename it first; overwriting would silently discard it"
        )
    _require_params_match(
        "bloom_might_contain",
        {"num_bits": num_bits, "num_hashes": num_hashes},
        sketch_params(sketch, "bits"),
    )
    # Defensive re-aggregate: a sketch holding duplicate word_idx rows
    # (e.g. a raw unionByName of two filters that was never collapsed)
    # would multiply candidate rows through EACH broadcast join below,
    # silently breaking the one-row-in-one-row-out contract and
    # inflating downstream counts. Collapsing first is a
    # <= num_bits/63-row aggregate — free, and a no-op on a well-formed
    # sketch (per-word OR is idempotent).
    sketch = sketch.groupBy("word_idx").agg(
        F.bit_or("bits").alias("bits")
    )
    # Blockify the word table ONCE (eager localCheckpoint) before the k
    # broadcast joins below: Catalyst does not collapse the k broadcast
    # builds into one, so an unmaterialized sketch argument (benchmark
    # shingle explode + hash-agg in decontaminate_bloom) was evaluated
    # k times — k full scans of the benchmark side per probe (guide
    # §2.4/§3.3: materialize an intermediate to truncate duplicated
    # subtrees). After the checkpoint the k builds read the same
    # ≤ num_bits/63-row block set (fixed-size by construction — a
    # 2^30-bit filter is ~270 MB, the same bytes the broadcast itself
    # ships), and ReuseExchange collapses the k BroadcastExchanges
    # into one + (k-1) ReusedExchange.
    sketch = sketch.localCheckpoint(eager=True)
    c = F.col(value) if isinstance(value, str) else value
    out = candidates.withColumn("__bloom_h", phash(c)).selectExpr(
        "*",
        f"__bloom_h % {num_bits} AS __h1",
        f"1 + (__bloom_h div {num_bits}) % {num_bits - 1} AS __h2",
    )
    hits = []
    for i in range(num_hashes):
        sk_i = sketch.select(
            F.col("word_idx").alias("__wi"), F.col("bits").alias("__b")
        )
        out = (
            out.selectExpr(
                "*", f"(__h1 + {i} * __h2) % {num_bits} AS __pos"
            )
            .selectExpr(
                "*",
                "cast(__pos div 63 AS bigint) AS __wi",
                "shiftleft(1L, cast(__pos % 63 AS int)) AS __mk",
            )
            .drop("__pos")
            .join(F.broadcast(sk_i), "__wi", "left")
            .withColumn(
                f"__hit{i}",
                F.col("__b").isNotNull()
                & (F.col("__b").bitwiseAND(F.col("__mk")) != 0),
            )
            .drop("__wi", "__mk", "__b")
        )
        hits.append(f"__hit{i}")
    expr = F.col(hits[0])
    for h in hits[1:]:
        expr = expr & F.col(h)
    return out.withColumn("might_contain", expr).drop(
        "__bloom_h", "__h1", "__h2", *hits
    )


def cms_topk(
    candidates: DataFrame,
    sketch: DataFrame,
    *,
    k: int,
    depth: int = 4,
    width: int = 1024,
    value_col: str = "v",
) -> DataFrame:
    """Estimate candidate frequencies against a CMS and keep the top-k
    by (est desc, value asc). The sketch (≤ depth·width rows) is
    broadcast; candidates fan out ``depth`` ways map-side, take a
    per-candidate min, then TakeOrderedAndProject — no corpus-side
    shuffle beyond the candidate aggregate."""
    _require_params_match(
        "cms_topk", {"depth": depth, "width": width},
        sketch_params(sketch, "c"),
    )
    ex = candidates.select(F.col(value_col).alias("v")).select(
        "v", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    )
    col = F.pmod(
        phash(F.concat(F.col("row").cast("string"), F.lit("#"), F.col("v"))),
        F.lit(width),
    ).cast("int")
    # sum-collapse duplicate (row, col) rows first: a raw-unionByName
    # of two partial sketches (not yet cms_merge'd) would otherwise fan
    # each candidate onto both rows and min() would UNDERESTIMATE —
    # breaking CMS's one-sided guarantee. Counters are additive, so the
    # collapse equals cms_merge; free on a clean sketch (≤ depth·width
    # rows, same broadcast). bloom_might_contain has the same guard.
    counters = sketch.groupBy("row", "col").agg(F.sum("c").alias("c"))
    est = (
        ex.select("v", "row", col.alias("col"))
        .join(F.broadcast(counters), ["row", "col"], "left")
        .groupBy("v")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )
    return est.orderBy(F.col("est").desc(), F.col("v")).limit(k)


def kmv_sketch(
    df: DataFrame, value: Column | str, *, k: int = 256
) -> DataFrame:
    """KMV (bottom-k) distinct sketch: the k smallest distinct portable
    hash values of the column — ``(h)``, ≤ k rows. Distinct is one hash
    agg; bottom-k is TakeOrderedAndProject (per-partition heaps)."""
    c = F.col(value) if isinstance(value, str) else value
    # NULL values carry no identity: drop them. Unfiltered, a null hash
    # sorts FIRST in Spark (ASC NULLS FIRST) but LAST in DuckDB, so the
    # bit-identical oracle diverges — and the null occupies a bottom-k
    # slot that semi-joins (kmv_merge/kmv_overlap) can never match.
    return _tagged(
        df.select(phash(c).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k),
        "h",
        k=k,
    )


def kmv_sketch_sql(value_expr: str, from_clause: str, *, k: int = 256) -> str:
    h = phash_sql(value_expr)
    return (
        f"SELECT DISTINCT h FROM (SELECT {h} AS h FROM {from_clause}) "
        f"WHERE h IS NOT NULL ORDER BY h LIMIT {k}"
    )


def kmv_merge(a: DataFrame, b: DataFrame, *, k: int = 256) -> DataFrame:
    """Merge two KMV sketches: the k smallest distinct hashes of the
    union — closed under merge (the bottom-k of a union is a function
    of the two bottom-k's alone), so the merged sketch equals the
    one-shot sketch of the combined input EXACTLY. ≤ 2k rows touch the
    merge."""
    _require_params_match(
        "kmv_merge", {"k": k}, sketch_params(a, "h"), sketch_params(b, "h")
    )
    return _tagged(
        a.select("h")
        .unionByName(b.select("h"))
        .distinct()
        .orderBy("h")
        .limit(k),
        "h",
        k=k,
    )


def kmv_overlap(
    a: DataFrame, b: DataFrame, *, k: int = 256
) -> DataFrame:
    """Jaccard estimate between two KMV sketches, exact-integer output:
    one row ``(k_eff, inter, jaccard_q)`` where k_eff = |bottom-k of
    the union|, inter = members of that bottom-k present in BOTH
    sketches, jaccard_q = inter·10⁶ div k_eff. All three integers are
    deterministic functions of the sketches, so the estimator itself is
    oracle-checkable bit-for-bit."""
    _require_params_match(
        "kmv_overlap", {"k": k},
        sketch_params(a, "h"), sketch_params(b, "h"),
    )
    # Single-evaluation shape: the former semi-join form referenced a,
    # b AND the union bottom-k twice each, and Catalyst re-evaluated
    # each unmaterialized sketch's full corpus lineage (token explode +
    # distinct + bottom-k) once per reference — 4 corpus scans per side
    # (guide §2.4). Tagging each hash with its origin lets ONE pass
    # compute the union bottom-k with membership flags, and one global
    # aggregate read off k_eff and inter together — every subtree
    # evaluated exactly once, no materialization barrier. max(ia)=1
    # iff the hash is in a, so sum(ia*ib) counts hashes present in
    # BOTH — exactly the old two-semi-join count.
    tagged = a.select(
        "h", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    ).unionByName(b.select("h", F.lit(0).alias("ia"), F.lit(1).alias("ib")))
    union_k = (
        tagged.groupBy("h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
        .orderBy("h")
        .limit(k)
    )
    return union_k.agg(
        F.count("*").alias("k_eff"),
        F.coalesce(
            F.sum(F.col("ia") * F.col("ib")), F.lit(0)
        ).cast("long").alias("inter"),
    ).select(
        "k_eff",
        "inter",
        F.expr("inter * 1000000L div k_eff").alias("jaccard_q"),
    )


def dd_sketch(
    df: DataFrame,
    value: Column | str,
    *,
    relative_accuracy: float = 0.01,
    min_value: float = 1e-9,
) -> DataFrame:
    """DDSketch quantile sketch (Masson, Rim & Lee, VLDB 2019 "DDSketch:
    a fast and fully-mergeable quantile sketch with relative-error
    guarantees") — the 4th classic sketch alongside HLL (cardinality),
    CMS (frequency), and KMV (overlap): approximate quantiles whose
    RELATIVE error is bounded by ``relative_accuracy`` at any scale.

    Bucket index is ``ceil(ln|x| / ln(gamma))`` with
    ``gamma = (1+a)/(1-a)``; the ln is :func:`~...text.ln_cr`
    (correctly-rounded ops only), so the integer index — unlike any
    libm-log implementation — is bit-identical in Spark and DuckDB and
    the sketch itself is oracle-checkable. The per-row ln is computed
    on a staged column (ln_cr_append) so codegen evaluates the sqrt
    chain once — inside the CaseWhen branch it cannot be CSE-hoisted
    and runs ~50x slower. Values in ``[-min_value, min_value]`` land
    in the zero bucket (the paper's indexable minimum); negatives
    mirror into ``sgn = -1`` buckets; NaN/±inf/null rows are dropped.

    At 100 TB: one map-only index expression + one hash agg with
    map-side partials; the sketch is O(log(max/min)/log gamma) integer
    rows (~2-3k at a=0.01 over 18 decades) through any exchange, and
    merges across partitions/runs/days by per-bucket sum
    (:func:`dd_merge`) — exact percentiles shuffle every distinct
    value. Returns ``(sgn, bucket, n)``. Index stage shared with the
    grouped variant (:func:`_dd_index`).
    """
    a = float(relative_accuracy)
    return _tagged(
        _dd_index(df, value, relative_accuracy=a, min_value=min_value)
        .groupBy("sgn", "bucket")
        .agg(F.count(F.lit(1)).alias("n")),
        "n",
        relative_accuracy=a,
    )


def _dd_index(
    df: DataFrame,
    value: Column | str,
    *,
    relative_accuracy: float,
    min_value: float,
    group: Column | str | None = None,
) -> DataFrame:
    """The ORACLE-CRITICAL DDSketch bucket-index stage, shared by
    :func:`dd_sketch` and :func:`dd_sketch_grouped` so the arithmetic
    can never diverge between them: per surviving row (NaN/±inf/null
    dropped), ``sgn`` in {-1,0,1} around the ``min_value`` dead zone
    and ``bucket = ceil(ln|x| / ln(gamma))`` on the correctly-rounded
    ln (ln_cr — bit-identical in Spark and DuckDB), with an optional
    leading ``grp`` column. The per-row ln is computed on a staged
    column (ln_cr_append) so codegen evaluates the sqrt chain once —
    inside the CaseWhen branch it cannot be CSE-hoisted and runs ~50x
    slower; ln_cr(lit(gamma)) constant-folds to the identical bit
    pattern the oracle's engine folds its own literal chain to."""
    from sonnerie_spark.operators.text import ln_cr, ln_cr_append

    a = float(relative_accuracy)
    if not 0.0 < a < 1.0:
        raise ValueError(f"relative_accuracy must be in (0,1), got {a}")
    gamma = (1.0 + a) / (1.0 - a)
    mn = float(min_value)
    v = (F.col(value) if isinstance(value, str) else value).cast("double")
    grp: list = []
    if group is not None:
        g = F.col(group) if isinstance(group, str) else group
        grp = [g.alias("grp")]
    df = df.select(*grp, v.alias("v")).filter(
        F.col("v").isNotNull()
        & ~F.isnan("v")
        & (F.abs(F.col("v")) != F.lit(float("inf")))
    )
    df = ln_cr_append(df, F.abs(F.col("v")), "__ln_abs")
    sgn = (
        F.when(F.col("v") > mn, F.lit(1))
        .when(F.col("v") < -mn, F.lit(-1))
        .otherwise(F.lit(0))
    )
    bucket = F.when(sgn == 0, F.lit(0).cast("long")).otherwise(
        F.ceil(F.col("__ln_abs") / ln_cr(F.lit(gamma)))
    )
    return df.select(
        *(["grp"] if group is not None else []),
        sgn.alias("sgn"),
        bucket.alias("bucket"),
    )


def _dd_index_sql(relative_accuracy: float, min_value: float) -> tuple[str, str]:
    """The (sgn, bucket) CASE expressions of the DuckDB DDSketch
    mirror — shared by :func:`dd_sketch_sql` and
    :func:`dd_sketch_grouped_sql` exactly as :func:`_dd_index` is
    shared on the Spark side, over an inner column ``v``."""
    from sonnerie_spark.operators.text import ln_cr_sql

    a = float(relative_accuracy)
    gamma = (1.0 + a) / (1.0 - a)
    mn = repr(float(min_value))
    lx = ln_cr_sql("abs(v)")
    lg = ln_cr_sql(repr(gamma))
    sgn = f"""CASE WHEN v > {mn} THEN 1
                  WHEN v < -{mn} THEN -1 ELSE 0 END"""
    bucket = f"""CASE WHEN abs(v) > {mn}
                  THEN CAST(ceil({lx} / {lg}) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END"""
    return sgn, bucket


def dd_sketch_sql(
    value_expr: str,
    from_clause: str,
    *,
    relative_accuracy: float = 0.01,
    min_value: float = 1e-9,
) -> str:
    """DuckDB mirror of :func:`dd_sketch` — the identical ln_cr op
    sequence, so (sgn, bucket, n) matches bit-for-bit."""
    sgn, bucket = _dd_index_sql(relative_accuracy, min_value)
    return f"""
    SELECT sgn, bucket, count(*) AS n FROM (
      SELECT {sgn} AS sgn,
             {bucket} AS bucket
      FROM (SELECT CAST({value_expr} AS DOUBLE) AS v FROM {from_clause})
      WHERE v IS NOT NULL AND NOT isnan(v) AND NOT isinf(v)
    ) GROUP BY sgn, bucket
    """


def dd_sketch_grouped(
    df: DataFrame,
    group: Column | str,
    value: Column | str,
    *,
    relative_accuracy: float = 0.01,
    min_value: float = 1e-9,
) -> DataFrame:
    """Per-group DDSketch — the canonical deployment shape ("p99 per
    service/key" at 100 TB): ``(grp, sgn, bucket, n)``, one hash agg
    with map-side partials, ≤ a few-k integer rows per group through
    any exchange. Index stage SHARED with :func:`dd_sketch`
    (:func:`_dd_index`) — the arithmetic cannot diverge."""
    a = float(relative_accuracy)
    return _tagged(
        _dd_index(
            df, value, relative_accuracy=a, min_value=min_value, group=group
        )
        .groupBy("grp", "sgn", "bucket")
        .agg(F.count(F.lit(1)).alias("n")),
        "n",
        relative_accuracy=a,
    )


def dd_sketch_grouped_sql(
    group_expr: str,
    value_expr: str,
    from_clause: str,
    *,
    relative_accuracy: float = 0.01,
    min_value: float = 1e-9,
) -> str:
    """DuckDB mirror of :func:`dd_sketch_grouped` — index expressions
    shared with :func:`dd_sketch_sql` via :func:`_dd_index_sql`."""
    sgn, bucket = _dd_index_sql(relative_accuracy, min_value)
    return f"""
    SELECT grp, sgn, bucket, count(*) AS n FROM (
      SELECT grp,
             {sgn} AS sgn,
             {bucket} AS bucket
      FROM (SELECT {group_expr} AS grp, CAST({value_expr} AS DOUBLE) AS v
            FROM {from_clause})
      WHERE v IS NOT NULL AND NOT isnan(v) AND NOT isinf(v)
    ) GROUP BY grp, sgn, bucket
    """


def dd_group_quantile(
    sketch: DataFrame, q: float, *, relative_accuracy: float = 0.01
) -> DataFrame:
    """Per-group q-quantile from a grouped DDSketch — fully DISTRIBUTED
    (no driver walk): one cumulative-sum window over each group's own
    bucket rows picks the bucket holding rank ``floor(q*(n-1))``
    (``cum - n <= rank < cum``); groups never exchange data with each
    other. Returns ``(grp, sgn, bucket, est)`` — (sgn, bucket) are the
    engine-exact integers (what the oracle hashes), ``est`` the float
    log-midpoint reconstruction ``sgn * 2*gamma^bucket / (gamma+1)``.

    PRECONDITION: ``sketch`` must have UNIQUE (grp, sgn, bucket) rows —
    i.e. be direct :func:`dd_sketch_grouped` output or the result of
    :func:`dd_merge` (which re-aggregates grouped inputs). A raw UNION
    of grouped sketches has duplicate bucket rows; the RANGE-frame
    cumulative sum would then count each duplicate as a separate step
    and return wrong quantiles SILENTLY — run the union through
    :func:`dd_merge` first.
    """
    _require_params_match(
        "dd_group_quantile", {"relative_accuracy": float(relative_accuracy)},
        sketch_params(sketch, "n"),
    )
    from pyspark.sql import Window

    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    a = float(relative_accuracy)
    gamma = (1.0 + a) / (1.0 - a)
    # value order: negative buckets descending index, zero, positive
    # ascending — the order key is unique per (grp, sgn, bucket) row, so
    # the default RANGE frame equals ROWS in every engine
    ord_key = F.when(F.col("sgn") < 0, -F.col("bucket")).otherwise(
        F.col("bucket")
    )
    w = Window.partitionBy("grp").orderBy("sgn", ord_key)
    cum = F.sum("n").over(w)
    tot = F.sum("n").over(Window.partitionBy("grp"))
    rank = F.floor(F.lit(float(q)) * (tot - F.lit(1)).cast("double"))
    est = F.col("sgn").cast("double") * (
        F.lit(2.0) * F.pow(F.lit(gamma), F.col("bucket")) / F.lit(gamma + 1.0)
    )
    return (
        sketch.withColumn("cum", cum)
        .withColumn("rank", rank)
        .filter((F.col("cum") > F.col("rank")) & (F.col("cum") - F.col("n") <= F.col("rank")))
        .select("grp", "sgn", "bucket", est.alias("est"))
    )


def dd_group_quantile_sql(sketch_sql: str, q: float) -> str:
    """DuckDB mirror of the integer part of :func:`dd_group_quantile`
    over a grouped-sketch subquery: emits ``(grp, sgn, bucket)`` — the
    float ``est`` is reconstruction-only (gamma^bucket is a
    transcendental, so it stays out of hashed gate values)."""
    qq = repr(float(q))
    return f"""
    SELECT grp, sgn, bucket FROM (
      SELECT grp, sgn, bucket, n,
             sum(n) OVER (PARTITION BY grp ORDER BY sgn,
               CASE WHEN sgn < 0 THEN -bucket ELSE bucket END) AS cum,
             sum(n) OVER (PARTITION BY grp) AS tot
      FROM ({sketch_sql})
    ) WHERE cum > floor({qq} * CAST(tot - 1 AS DOUBLE))
        AND cum - n <= floor({qq} * CAST(tot - 1 AS DOUBLE))
    """


def dd_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two DDSketches: per-(sgn, bucket) sum — fully mergeable
    across partitions, runs, and time windows (the paper's property).

    Grouped sketches (:func:`dd_sketch_grouped` output carrying a
    ``grp`` column) merge per group: if EITHER input has ``grp``, both
    must, and the sum keys on (grp, sgn, bucket) — silently collapsing
    groups into one sketch would be a wrong answer, so a one-sided
    ``grp`` raises."""
    a_grp, b_grp = "grp" in a.columns, "grp" in b.columns
    if a_grp != b_grp:
        raise ValueError(
            "dd_merge: one side is a grouped sketch (has 'grp') and the "
            "other is not — merging them would silently collapse groups; "
            "aggregate or add the group column first"
        )
    pa_, pb = sketch_params(a, "n"), sketch_params(b, "n")
    _require_params_match("dd_merge", pa_, pb)
    _require_params_match("dd_merge", pb, pa_)
    keys = ["grp", "sgn", "bucket"] if a_grp else ["sgn", "bucket"]
    out = a.unionByName(b).groupBy(*keys).agg(F.sum("n").alias("n"))
    return _tagged(out, "n", **pa_) if pa_ else out


def dd_quantiles(
    sketch: DataFrame,
    qs: list[float],
    *,
    relative_accuracy: float = 0.01,
) -> list[dict]:
    """Quantile estimates from a collected DDSketch — driver-side walk
    over the (bounded, few-k-row) bucket table, like hll_estimate.

    Buckets sort by the value they represent (negative buckets
    descending index, zero, positive ascending); the q-quantile is the
    bucket holding rank ``floor(q * (n - 1))``, estimated at the
    bucket's log-midpoint ``sgn * 2*gamma^i / (gamma + 1)`` — relative
    error ≤ relative_accuracy for quantiles outside the zero bucket.
    """
    _require_params_match(
        "dd_quantiles", {"relative_accuracy": float(relative_accuracy)},
        sketch_params(sketch, "n"),
    )
    import math

    a = float(relative_accuracy)
    gamma = (1.0 + a) / (1.0 - a)
    rows = sketch.collect()
    cells = sorted(
        ((r["sgn"], r["bucket"], int(r["n"])) for r in rows),
        key=lambda t: (t[0], -t[1] if t[0] < 0 else t[1]),
    )
    total = sum(c[2] for c in cells)
    out = []
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
        if total == 0:
            out.append({"q": q, "est": None})
            continue
        rank = math.floor(q * (total - 1))
        cum = 0
        for sgn, bucket, n in cells:
            cum += n
            if cum > rank:
                est = (
                    0.0
                    if sgn == 0
                    else sgn * 2.0 * gamma**bucket / (gamma + 1.0)
                )
                out.append({"q": q, "est": est})
                break
    return out


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches: per-bucket max — the property that makes the
    sketch reusable across partitions, runs, and time windows. Grouped
    sketches (a ``grp`` column) merge per group; mixing grouped and
    ungrouped inputs raises (same contract as :func:`dd_merge`)."""
    a_grp, b_grp = "grp" in a.columns, "grp" in b.columns
    if a_grp != b_grp:
        raise ValueError(
            "hll_merge: one side is a grouped sketch (has 'grp') and the "
            "other is not — merging them would silently collapse groups"
        )
    pa_, pb = sketch_params(a, "max_rho"), sketch_params(b, "max_rho")
    _require_params_match("hll_merge", pa_, pb)
    _require_params_match("hll_merge", pb, pa_)
    keys = ["grp", "bucket"] if a_grp else ["bucket"]
    out = a.unionByName(b).groupBy(*keys).agg(
        F.max("max_rho").alias("max_rho")
    )
    return _tagged(out, "max_rho", **pa_) if pa_ else out


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two Count-Min sketches: per-(row, col) SUM — counters are
    additive, so the merged sketch's estimates equal the one-shot
    sketch's exactly (not just within the epsilon bound). Both inputs
    must use the same (depth, width)."""
    pa_, pb = sketch_params(a, "c"), sketch_params(b, "c")
    _require_params_match("cms_merge", pa_, pb)
    _require_params_match("cms_merge", pb, pa_)
    out = (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("c").alias("c"))
    )
    return _tagged(out, "c", **pa_) if pa_ else out


def hll_sketch_grouped(
    df: DataFrame,
    group: Column | str,
    value: Column | str,
    *,
    bucket_bits: int = 8,
) -> DataFrame:
    """Per-group HLL sketches: ``(grp, bucket, max_rho)`` — ≤ 2^b rows
    per group, one map-side-combined aggregate keyed on (grp, bucket).
    Register stage shared with :func:`hll_sketch` (:func:`_hll_index`),
    including its NULL rule."""
    return _tagged(
        _hll_index(df, value, bucket_bits=bucket_bits, group=group)
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("max_rho")),
        "max_rho",
        bucket_bits=bucket_bits,
    )


def hll_estimates_grouped(
    sketches: DataFrame, *, bucket_bits: int = 8
) -> DataFrame:
    """Per-group cardinality estimates from grouped sketches:
    ``(grp, est)``. Pure Spark expression (one agg over ≤ 2^b rows per
    group); the float sums here are estimates, not an oracle surface.
    Applies the classic alpha_m estimator with linear-counting
    correction for the small range."""
    _require_params_match(
        "hll_estimates_grouped", {"bucket_bits": bucket_bits},
        sketch_params(sketches, "max_rho"),
    )
    m = 1 << bucket_bits
    alpha = 0.7213 / (1 + 1.079 / m)
    per = sketches.groupBy("grp").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
            + (F.lit(m) - F.count("*"))  # absent buckets: rho 0 -> 2^0
        ).alias("z"),
        (F.lit(m) - F.count("*")).alias("zeros"),
    )
    raw = F.lit(alpha * m * m) / F.col("z")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
    return per.select(
        "grp",
        F.when(
            (raw <= 2.5 * m) & (F.col("zeros") > 0), lc
        )
        .otherwise(raw)
        .alias("est"),
    )


class _GenerationStore:
    """What HllStore, BloomStore and DdStore share: a store root with a
    ``params.json`` and one data generation, published and loaded
    through the :mod:`sonnerie_spark.fsutil` generation protocol (one
    retained backup), every access under the store flock."""

    def _open(
        self, spark, path: str, data: str, asked: dict, defaults: dict
    ) -> dict:
        """Bind the store and read-or-create its ``params.json`` under
        the lock, so two processes opening a fresh store agree on one
        parameter set. Reopening adopts the persisted set and REFUSES
        an explicit mismatch instead of silently merging sketches built
        in incompatible bucket spaces (a bucket_bits or
        relative_accuracy change between opens corrupts every estimate
        with no error anywhere downstream). ``asked`` values of None
        mean "adopt persisted, else the default"."""
        self.spark = spark
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)
        self._data = os.path.join(self.path, data)
        meta_path = os.path.join(self.path, "params.json")
        with self._locked():
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    meta = json.load(f)
                _require_params_match(
                    type(self).__name__,
                    {k: v for k, v in asked.items() if v is not None},
                    meta,
                )
                return meta
            meta = {
                k: (v if v is not None else defaults[k])
                for k, v in asked.items()
            }
            write_json_atomic(meta_path, meta)
            return meta

    def _locked(self):
        return store_lock(self.path)

    def _load(self, read):
        """``read(dir)`` of the current generation, or None before the
        first publish (caller holds the lock)."""
        return load_generation(
            self._data, read, f"{type(self).__name__} at {self.path}"
        )

    def _publish(self, write) -> None:
        """``write(tmp)`` a whole new generation, then publish it
        (caller holds the lock)."""
        tmp = tmp_name(self._data)
        write(tmp)
        publish_generation(self._data, tmp, keep_backup=True)


class HllStore(_GenerationStore):
    """Persistent, incrementally-merged per-group HLL sketches — the
    streaming/multi-run face of :func:`hll_sketch`: "distinct users per
    day", "distinct tokens per source" maintained forever without ever
    rescanning history.

    ``add()`` sketches the arriving batch per group and max-merges it
    into the stored table as a new generation (crash contract:
    :mod:`sonnerie_spark.fsutil`). Because per-bucket max is
    idempotent, associative, and commutative, replaying a batch
    (at-least-once streaming delivery, foreachBatch retries) leaves the
    store EXACTLY unchanged — no transactional sink is needed for
    correctness, only the publish's atomicity. The store is ≤
    groups·2^b integer rows: rewriting it per add is a bounded
    dimension-table write, not a corpus cost.

    SIZE CONTRACT: reads materialize driver-side under the store lock
    (what closes the swap races) and writes coalesce to one file, so
    group cardinality must stay dimension-sized (thousands to low
    millions of groups); an unbounded group domain needs a partitioned
    store design, not this class.
    """

    def __init__(self, spark, path: str, *, bucket_bits: int | None = None):
        meta = self._open(
            spark, path, "sketches",
            {"bucket_bits": bucket_bits}, {"bucket_bits": 8},
        )
        self.bucket_bits = int(meta["bucket_bits"])

    def sketches(self) -> DataFrame:
        """The current merged sketch table ``(grp, bucket, max_rho)``
        (empty frame if nothing was added yet).

        Reads MATERIALIZE driver-side under the store lock — the table
        is bounded dimension data (≤ groups·2^b integer rows), so this
        is a tiny pyarrow read, and it means a concurrent ``add()``'s
        directory swap can neither expose the between-renames
        missing-dir window nor delete parquet files under a lazy
        distributed scan."""
        with self._locked():
            return self._sketches_unlocked()

    def _sketches_unlocked(self) -> DataFrame:
        import pyarrow.parquet as pq

        tbl = self._load(pq.read_table)
        if tbl is None:
            return self.spark.createDataFrame(
                [], "grp string, bucket int, max_rho int"
            )
        # Arrow table -> DataFrame directly: to_pandas() here would put
        # a groups x 2^b-row pandas conversion on the driver in EVERY
        # add()/read — the Arrow path keeps it zero-copy.
        return self.spark.createDataFrame(
            tbl, schema="grp string, bucket int, max_rho int"
        )

    def add(self, df: DataFrame, group: Column | str, value: Column | str) -> None:
        """Sketch the batch per group and merge into the store."""
        g = F.col(group) if isinstance(group, str) else group
        batch = hll_sketch_grouped(
            df, g.cast("string"), value, bucket_bits=self.bucket_bits
        )
        with self._locked():
            # _sketches_unlocked, not sketches(): flock is held, and a
            # second flock on a fresh fd in the same process deadlocks
            merged = (
                self._sketches_unlocked()
                .unionByName(batch)
                .groupBy("grp", "bucket")
                .agg(F.max("max_rho").alias("max_rho"))
            )
            self._publish(lambda tmp: merged.coalesce(1).write.parquet(tmp))

    def estimates(self) -> DataFrame:
        """Per-group cardinality estimates ``(grp, est)``."""
        return hll_estimates_grouped(
            self.sketches(), bucket_bits=self.bucket_bits
        )


class BloomStore(_GenerationStore):
    """Persistent, incrementally-OR-merged Bloom filter — the streaming
    face of :func:`bloom_sketch`: a blocklist/decontamination filter
    that accumulates forever ("every URL ever crawled", "every eval-set
    shingle ever registered") without rescanning history.

    ``add()`` sketches the arriving batch and bit_or-merges it into the
    stored word table as a new generation (crash contract:
    :mod:`sonnerie_spark.fsutil`). Per-word OR is idempotent,
    associative, and commutative — exactly HllStore's replay argument —
    so at-least-once delivery (foreachBatch retries) leaves the store
    EXACTLY unchanged and no ledger is needed (contrast DdStore, whose
    sum-merge is not replay-idempotent). The store is ≤ num_bits/63
    integer rows regardless of how many values were ever added:
    rewriting it per add is a fixed-size dimension-table write.

    ``num_bits``/``num_hashes`` are fixed at creation and persisted in
    ``params.json`` beside the word table (flock-initialized so two
    processes opening a fresh store agree on one set); ``sketch()``
    re-attaches them as column metadata on read, so
    :func:`bloom_might_contain` probes against a reopened store refuse
    mismatched parameters instead of silently returning false
    negatives. Deletion is structurally impossible (Bloom bits only
    set) — a shrinking blocklist needs :meth:`rebuild`, which
    re-sketches the current source of truth into a fresh generation
    under the same lock (the standard Bloom trade, made operational).
    """

    def __init__(
        self,
        spark,
        path: str,
        *,
        num_bits: int | None = None,
        num_hashes: int | None = None,
    ):
        if (num_bits is not None and num_bits <= 1) or (
            num_hashes is not None and num_hashes < 1
        ):
            raise ValueError(
                f"invalid Bloom parameters num_bits={num_bits} "
                f"num_hashes={num_hashes}"
            )
        meta = self._open(
            spark, path, "words",
            {
                "num_bits": None if num_bits is None else int(num_bits),
                "num_hashes": None if num_hashes is None else int(num_hashes),
            },
            {"num_bits": 1 << 20, "num_hashes": 4},
        )
        self.num_bits = int(meta["num_bits"])
        self.num_hashes = int(meta["num_hashes"])

    def sketch(self) -> DataFrame:
        """The current word table ``(word_idx, bits)``, tagged with the
        store's parameters (empty frame if nothing was added yet)."""
        with self._locked():
            return self._sketch_unlocked()

    def _sketch_unlocked(self) -> DataFrame:
        import pyarrow.parquet as pq

        tbl = self._load(pq.read_table)
        return _tagged(
            self.spark.createDataFrame(
                [] if tbl is None else tbl,
                schema="word_idx bigint, bits bigint",
            ),
            "bits",
            num_bits=self.num_bits,
            num_hashes=self.num_hashes,
        )

    def add(self, df: DataFrame, value: Column | str) -> None:
        """Sketch the batch and OR-merge it into the store (replay-
        idempotent: re-adding any batch is a no-op)."""
        batch = bloom_sketch(
            df, value, num_bits=self.num_bits, num_hashes=self.num_hashes
        )
        with self._locked():
            merged = (
                self._sketch_unlocked()
                .unionByName(batch)
                .groupBy("word_idx")
                .agg(F.bit_or("bits").alias("bits"))
            )
            self._publish(lambda tmp: merged.coalesce(1).write.parquet(tmp))

    def might_contain(
        self, candidates: DataFrame, value: Column | str
    ) -> DataFrame:
        """Probe the stored filter: ``candidates`` + ``might_contain``
        (the :func:`bloom_might_contain` map-only broadcast plan)."""
        return bloom_might_contain(
            candidates,
            self.sketch(),
            value=value,
            num_bits=self.num_bits,
            num_hashes=self.num_hashes,
        )

    def rebuild(self, df: DataFrame, value: Column | str) -> None:
        """REPLACE the stored filter with a fresh sketch of ``df`` —
        the operational answer to Bloom's structural no-delete (bits
        only ever set): when the blocklist legitimately SHRINKS (URLs
        un-banned, an eval set retired), re-sketch the current source
        of truth and publish it as a new generation under the same
        lock add() uses. Parameters are kept (probes in flight against
        the old generation stay valid; a parameter change is a new
        store, not a rebuild). Unlike add(), rebuild is NOT
        replay-idempotent against concurrent add()s — adds that land
        between the source snapshot and the publish are lost by design
        (the caller declared ``df`` the complete membership); run it
        from the single owner the flock already implies for writers."""
        fresh = bloom_sketch(
            df, value, num_bits=self.num_bits, num_hashes=self.num_hashes
        )
        with self._locked():
            self._publish(lambda tmp: fresh.coalesce(1).write.parquet(tmp))


def _ledger_parse(raw) -> tuple[int, set[int]]:
    """Applied-id ledger as (upto, extras): applied == {0..upto} U
    extras. The persisted form compresses the contiguous prefix to ONE
    integer, so a months-long monotonic stream (Spark epoch ids) keeps
    an O(gaps) ledger instead of an ever-growing full id list — the
    per-add rewrite and per-read parse stay O(1) in stream age with
    EXACT replay semantics (no watermark window, no information loss).
    Reads both forms: the legacy full list and {"upto", "extras"}."""
    if isinstance(raw, dict):
        upto, extras = int(raw["upto"]), set(int(i) for i in raw["extras"])
    else:  # legacy: the full applied-id list
        upto, extras = -1, set(int(i) for i in raw)
    while upto + 1 in extras:
        upto += 1
        extras.discard(upto)
    return upto, extras


def _ledger_dump(upto: int, extras: set[int]) -> dict:
    return {"upto": upto, "extras": sorted(extras)}


class DdStore(_GenerationStore):
    """Persistent per-group DDSketch under streaming ingest — the
    quantile sibling of :class:`HllStore` ("p99 per key maintained
    forever without rescanning history").

    DD buckets merge by SUM, which — unlike HllStore's per-bucket max —
    is NOT idempotent: an at-least-once replay (a foreachBatch retry)
    would double-count. ``add()`` therefore takes the micro-batch's
    ``batch_id`` (Spark's epoch id) and keeps the applied-id LEDGER
    INSIDE the published generation directory, so "counts merged" and
    "id recorded" commit in the same atomic rename: a replayed id is a
    no-op, and a crash mid-add leaves the pre-add generation (the
    interrupted batch was never recorded, so its retry applies
    cleanly). Exactly-once semantics on top of at-least-once delivery.

    SIZE CONTRACT (shared with HllStore): the store is O(groups ·
    buckets) integer rows and is treated as BOUNDED DIMENSION DATA —
    reads materialize driver-side under the store lock (what closes
    the swap races), and writes coalesce to one file. Group
    cardinality must therefore stay dimension-sized (services, keys,
    sources — thousands to low millions); an unbounded group domain
    needs a partitioned store design, not this class.
    """

    _SCHEMA = "grp string, sgn int, bucket long, n long"

    def __init__(
        self,
        spark,
        path: str,
        *,
        relative_accuracy: float | None = None,
        min_value: float | None = None,
    ):
        meta = self._open(
            spark, path, "gen",
            {
                "relative_accuracy": (
                    None if relative_accuracy is None
                    else float(relative_accuracy)
                ),
                "min_value": None if min_value is None else float(min_value),
            },
            {"relative_accuracy": 0.01, "min_value": 1e-9},
        )
        self.relative_accuracy = float(meta["relative_accuracy"])
        self.min_value = float(meta["min_value"])

    # -- reads (materialized under the lock, like HllStore) ------------

    def sketches(self) -> DataFrame:
        """Current merged table ``(grp, sgn, bucket, n)``."""
        with self._locked():
            return self._frame(self._state_unlocked()[1])

    def applied(self) -> set[int]:
        """Batch ids already merged (the exactly-once ledger)."""
        with self._locked():
            upto, extras = self._state_unlocked()[0]
        # materializes the full id set -- a test/debug surface; the
        # persisted form stays O(gaps) however long the stream runs
        return set(range(upto + 1)) | extras

    def _state_unlocked(self):
        """``((upto, extras), arrow table or None)`` — ledger AND bucket
        table read from ONE generation, so a rollback between two
        separate reads can never pair generation G's ledger with G-1's
        counts (a lying ledger that refuses the missing batch's retry
        forever)."""
        import pyarrow.parquet as pq

        def read(gen: str):
            with open(os.path.join(gen, "applied.json")) as f:
                led = _ledger_parse(json.load(f))
            return led, pq.read_table(os.path.join(gen, "data"))

        return self._load(read) or ((-1, set()), None)

    def _frame(self, tbl) -> DataFrame:
        # Arrow -> DataFrame directly (no driver pandas round-trip)
        return self.spark.createDataFrame(
            [] if tbl is None else tbl, schema=self._SCHEMA
        )

    # -- writes ---------------------------------------------------------

    def add(
        self,
        batch_id: int,
        df: DataFrame,
        group: Column | str,
        value: Column | str,
    ) -> bool:
        """Sketch the batch per group and sum-merge it into the store;
        returns False (no-op) if ``batch_id`` was already applied."""
        if int(batch_id) < 0:
            raise ValueError(
                f"batch_id must be >= 0 (got {batch_id}): the compressed "
                "ledger treats ids at or below its contiguous watermark "
                "as applied, and Spark epoch ids are never negative"
            )
        batch = dd_sketch_grouped(
            df,
            (F.col(group) if isinstance(group, str) else group).cast(
                "string"
            ),
            value,
            relative_accuracy=self.relative_accuracy,
            min_value=self.min_value,
        )
        with self._locked():
            (upto, extras), tbl = self._state_unlocked()
            bid = int(batch_id)
            if bid <= upto or bid in extras:
                return False
            merged = (
                self._frame(tbl).unionByName(batch)
                .groupBy("grp", "sgn", "bucket")
                .agg(F.sum("n").alias("n"))
            )
            extras.add(bid)
            while upto + 1 in extras:
                upto += 1
                extras.discard(upto)

            def write(tmp: str) -> None:
                os.makedirs(tmp)
                merged.coalesce(1).write.parquet(os.path.join(tmp, "data"))
                with open(os.path.join(tmp, "applied.json"), "w") as f:
                    json.dump(_ledger_dump(upto, extras), f)

            self._publish(write)
            return True

    # -- quantiles --------------------------------------------------------

    def group_quantile(self, q: float) -> DataFrame:
        """Per-group q-quantile ``(grp, sgn, bucket, est)`` — the
        distributed window extraction of :func:`dd_group_quantile`."""
        return dd_group_quantile(
            self.sketches(), q, relative_accuracy=self.relative_accuracy
        )


def hll_estimate(sketch: DataFrame, *, bucket_bits: int = 8) -> float:
    """Classic HLL estimate with small-range (linear counting)
    correction. Collects the ≤ 2^b-row sketch — bounded dimension
    data."""
    _require_params_match(
        "hll_estimate", {"bucket_bits": bucket_bits},
        sketch_params(sketch, "max_rho"),
    )
    import math

    m = 1 << bucket_bits
    # max-collapse, not dict last-wins: a raw-unioned pair of partial
    # sketches (not yet hll_merge'd) has duplicate bucket rows, and the
    # HLL register combine is max; null buckets (a foreign sketch built
    # without the null filter) carry no identity and are skipped
    rows: dict = {}
    for r in sketch.collect():
        b, rho = r["bucket"], r["max_rho"]
        if b is None:
            continue
        if b not in rows or rho > rows[b]:
            rows[b] = rho
    alpha = 0.7213 / (1 + 1.079 / m)
    z = sum(2.0 ** -rows.get(j, 0) for j in range(m))
    est = alpha * m * m / z
    zeros = m - len(rows)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est
