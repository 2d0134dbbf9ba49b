"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: probes are broadcast,
  the scan over the corpus is embarrassingly parallel, ranking is a
  per-probe top-k window. Exact baseline; O(probes × corpus).
- :func:`lsh_sign_buckets` / :func:`lsh_ann_pairs` — random-hyperplane
  LSH: deterministic ±1 hyperplanes derived from the portable hash, so
  signatures are reproducible across engines. The 100 TB path: corpus
  is bucketed once (write-time), probes only scan their own bucket.

The dot products are ordered left-folds over array elements in Catalyst
(`aggregate`/`zip_with`) — float64 arithmetic in deterministic order, so
a SQL oracle computing the same ordered sum matches bit-for-bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from sonnerie_spark.fsutil import write_json_atomic


def dot(a: Column, b: Column) -> Column:
    """Ordered float64 dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each probe, the k nearest
    corpus vectors (excluding itself).

    Plan: broadcast probes × corpus scan -> per-probe top-k window.
    Ties broken by corpus id for full determinism.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec"))
    scored = (
        c.join(F.broadcast(p), F.col("cand_id") != F.col("probe_id"))
        .withColumn(
            "cosine",
            F.round(cosine(F.col("probe_vec"), F.col("cand_vec")), round_digits),
        )
        .select("probe_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "cosine", "rank")
    )


def hyperplane_matrix(dim: int, num_planes: int) -> list[list[float]]:
    """Deterministic ±1.0 hyperplanes: w[j][d] = +1 if bit0(md5(j#d)) else -1
    (same md5 scheme as :func:`portable_hash.phash`, computed driver-side)."""
    return [
        [
            1.0 if int(hashlib.md5(f"{j}#{d}".encode()).hexdigest()[:15], 16) & 1 else -1.0
            for d in range(dim)
        ]
        for j in range(num_planes)
    ]


def lsh_sign_buckets(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Random-hyperplane signature: bit j = (v . w_j >= 0), packed into
    one long. Per-row computation only — at scale this is the write-time
    bucketing pass; queries then touch a single bucket.

    The plane matrix travels as a broadcast one-row dimension, NOT as
    plan literals: num_planes x dim literal doubles would explode the
    generated code (at dim=1024 the plan itself becomes megabytes and
    the method exceeds JIT limits); as data, the codegen is tiny and
    independent of dim.
    """
    spark = df.sparkSession
    planes = spark.createDataFrame(
        [(hyperplane_matrix(dim, num_planes), [float(1 << j) for j in range(num_planes)])],
        "planes array<array<double>>, pow2 array<double>",
    )
    v = F.col(vec_col)
    sig = F.aggregate(
        F.zip_with(
            F.col("planes"),
            F.col("pow2"),
            lambda w, p: F.when(dot(v, w) >= 0, p).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    ).cast("long")
    # keep: column passthrough — same rationale as ivf_assign(keep=)
    return df.crossJoin(F.broadcast(planes)).select(
        F.col(id_col).alias("id"),
        sig.alias("bucket"),
        *[F.col(c) for c in keep],
    )


def ivf_centroid_data(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
) -> tuple[list[list[float]], list[int]]:
    """Deterministic IVF coarse centroids: the vectors with the
    ``num_centroids`` smallest ids. A real deployment would k-means these;
    determinism matters more here (cross-engine oracle), and the
    query-path mechanics (assign, probe, list-restricted search) are
    identical either way. Driver-side collect of C rows — centroids are
    dimension data, like the LSH plane matrix."""
    rows = (
        df.select(
            F.col(id_col).cast("int").alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .orderBy("cid")
        .limit(num_centroids)
        .collect()
    )
    if len(rows) < num_centroids:
        # under-seeded corpus: a silent short centroid set would make
        # _ivf_best_expr assign every vector the sentinel (2^31-1,
        # cosine -2.0) instead of erroring — mirror pq_codebook_data's
        # guard (ADVICE r6). The smallest-ids selection (orderBy+limit,
        # matching this docstring and pq_codebook_data) is robust to
        # sparse / non-zero-based ids, unlike the previous id < C
        # filter; on dense 0-based ids the two are identical, so the
        # SQL oracles' `vec_id < C` mirrors are unchanged.
        raise ValueError(
            f"need >= {num_centroids} vectors to seed the centroids, "
            f"found {len(rows)} (or pass explicit centroids)"
        )
    return [list(r.cv) for r in rows], [r.cid for r in rows]


def ivf_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    iters: int = 1,
    round_digits: int = 6,
    scale: int = 10**7,
) -> tuple[list[list[float]], list[int]]:
    """Lloyd's k-means refinement of the seed centroids — the real
    recall story for the IVF index (the seed alone is deterministic but
    arbitrary; one refinement round already moves each centroid to its
    list's mean).

    Every step is deterministic AND cross-engine reproducible, so the
    refined assignment stays oracle-checkable:

    - assignment: the same rounded-cosine argmax fold as
      :func:`ivf_assign` (map-only, no shuffle);
    - update: the per-(list, dim) mean is computed in INTEGER space —
      ``floor(sum(round(val * scale)) / n) / scale`` — sums of longs are
      exact and order-independent, so Spark's parallel aggregation and
      DuckDB's serial one agree bit-for-bit (a plain double ``avg``
      would differ by summation order);
    - an empty list keeps its previous centroid.

    Per iteration: one map-only assignment pass + one (C x D)-group hash
    agg — at 100 TB both are single scans with tiny shuffles (C·D
    rows). Centroids are dimension data (collected to the driver), like
    the LSH plane matrix.
    """
    import math

    cvs, cids = ivf_centroid_data(
        df, id_col=id_col, vec_col=vec_col, num_centroids=num_centroids
    )
    for _ in range(iters):
        assigned = ivf_assign(
            df,
            id_col=id_col,
            vec_col=vec_col,
            num_centroids=num_centroids,
            round_digits=round_digits,
            centroids=(cvs, cids),
            keep=(vec_col,),
        )
        stats = (
            assigned.select(
                "centroid_id",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("centroid_id", "pos")
            .agg(
                F.sum(F.round(F.col("val") * scale).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cid.setdefault(r.centroid_id, {})[r.pos] = (
                math.floor(r.s / r.n) / scale
            )
        cvs = [
            [by_cid[cid][p] for p in range(len(cv))] if cid in by_cid else cv
            for cv, cid in zip(cvs, cids)
        ]
    return cvs, cids


def ivf_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    round_digits: int = 6,
    centroids: tuple[list[list[float]], list[int]] | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """IVF list assignment: each vector -> its nearest centroid (max
    cosine, ties to the lowest centroid id).

    The argmax is a per-row fold over the broadcast centroid matrix —
    **no shuffle, no join explosion**: at 100 TB this is a map-only pass
    (the write-time partitioning step; queries then read one list).
    Struct comparison does the argmax: max of (cosine, -centroid_id).

    ``centroids``: explicit ``(vectors, ids)`` — pass
    :func:`ivf_train`'s output to assign against refined centroids;
    default derives the deterministic seed from ``df``.

    ``keep`` passes source columns (e.g. the vector itself) through the
    projection, so callers that need them alongside the assignment avoid
    the attach-by-self-join shape (assign ⋈ df on id) — that join
    shuffled the whole corpus on id twice and re-evaluated the fold, for
    columns this map-only pass can simply carry (guide §2.4).
    """
    spark = df.sparkSession
    if centroids is not None:
        cvs, cids = centroids
    else:
        cvs, cids = ivf_centroid_data(
            df, id_col=id_col, vec_col=vec_col, num_centroids=num_centroids
        )
    cents = spark.createDataFrame(
        [(cvs, cids)], "cents array<array<double>>, cids array<int>"
    )
    best = _ivf_best_expr(F.col(vec_col), round_digits)
    return df.crossJoin(F.broadcast(cents)).select(
        F.col(id_col).alias("id"),
        (-best["negid"]).cast("int").alias("centroid_id"),
        best["cos"].alias("centroid_cosine"),
        *[F.col(c) for c in keep],
    )


def _ivf_best_expr(v: Column, round_digits: int) -> Column:
    """Argmax-cosine centroid fold over the broadcast ``cents``/``cids``
    literal columns: max of (rounded cosine, -centroid_id) structs —
    ties to the lowest centroid id. Map-only at any corpus size."""
    scored = F.zip_with(
        F.col("cents"),
        F.col("cids"),
        lambda c, i: F.struct(
            F.round(cosine(v, c), round_digits).alias("cos"),
            (-i).cast("int").alias("negid"),
        ),
    )
    return F.aggregate(
        scored,
        F.struct(
            F.lit(-2.0).alias("cos"), F.lit(-(2**31 - 1)).cast("int").alias("negid")
        ),
        lambda acc, s: F.greatest(acc, s),
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    round_digits: int = 6,
    centroids: tuple[list[list[float]], list[int]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` most promising
    inverted lists per probe instead of the whole corpus.

    Plan shape (the scale story): corpus assignment is the map-only fold
    above; the probe->centroid ranking touches P x C rows (tiny); the
    candidate join is an equi-join on ``centroid_id`` with the probe side
    broadcast — the corpus is scanned once and only ~nprobe/C of it
    reaches the exact-cosine ranking window.
    """
    # candidate vectors ride the assignment projection (keep=) — the
    # former join-back on id shuffled the corpus twice (guide §2.4)
    assigned = ivf_assign(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        num_centroids=num_centroids,
        round_digits=round_digits,
        centroids=centroids,
        keep=(vec_col,),
    ).withColumnRenamed(vec_col, "cand_vec")

    spark = corpus.sparkSession
    if centroids is not None:
        cvs, cids = centroids
    else:
        cvs, cids = ivf_centroid_data(
            corpus, id_col=id_col, vec_col=vec_col, num_centroids=num_centroids
        )
    cent_rows = spark.createDataFrame(
        list(zip(cids, cvs)), "cid int, cv array<double>"
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    pc_w = Window.partitionBy("probe_id").orderBy(
        F.desc("c_cos"), F.asc("cid")
    )
    probe_cents = (
        p.crossJoin(F.broadcast(cent_rows))
        .withColumn(
            "c_cos", F.round(cosine(F.col("probe_vec"), F.col("cv")), round_digits)
        )
        .withColumn("crank", F.row_number().over(pc_w))
        .filter(F.col("crank") <= nprobe)
        .select("probe_id", "probe_vec", F.col("cid").alias("p_centroid_id"))
    )

    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        assigned.join(
            F.broadcast(probe_cents),
            (F.col("centroid_id") == F.col("p_centroid_id"))
            & (F.col("id") != F.col("probe_id")),
        )
        .withColumn(
            "cosine", F.round(cosine(F.col("probe_vec"), F.col("cand_vec")), round_digits)
        )
        .select("probe_id", F.col("id").alias("cand_id"), "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_ann_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    min_cosine: float = 0.0,
    round_digits: int = 6,
) -> DataFrame:
    """ANN candidate pairs: same sign-bucket, verified by exact cosine.

    The join key is the packed signature — an equi-join, so Spark plans
    a hash join keyed on the bucket; no pairwise cross product exists.
    """
    # vectors ride the bucketing projection (keep=) — the former
    # join-back on id shuffled the corpus twice (guide §2.4)
    bv = lsh_sign_buckets(
        df,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        num_planes=num_planes,
        keep=(vec_col,),
    ).withColumnRenamed(vec_col, "vec")
    a = bv.alias("a")
    c = bv.alias("b")
    return (
        a.join(c, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("cosine", F.round(cosine(F.col("a.vec"), F.col("b.vec")), round_digits))
        .filter(F.col("cosine") >= min_cosine)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.bucket").alias("bucket"),
            "cosine",
        )
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x| / 127,
    q[i] = round(x[i] / scale) — the 4x storage/bandwidth reduction an
    embedding store applies before the ANN index at corpus scale (dot
    products on int8 then run in SIMD integer units downstream).

    Engine-exact: max/abs/division are correctly-rounded IEEE ops and
    both engines round halves away from zero, so (scale, qvec) is
    bit-identical in the SQL oracle. All-zero vectors quantize to zeros
    with scale 0. Map-only — no shuffle at any scale.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (mx / F.lit(127.0)).alias("scale")
    q = F.when(
        mx == 0.0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(
        F.transform(v, lambda x: F.round(x * F.lit(127.0) / mx).cast("int"))
    )
    return df.select(
        F.col(id_col).alias("id"),
        scale,
        q.alias("qvec"),
    )


def pq_codebook_data(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
) -> list[list[list[float]]]:
    """Deterministic PQ seed codebooks: the ``ksub`` smallest-id vectors,
    each split into ``m`` contiguous subvectors; codeword j of subspace s
    is the s-th slice of the j-th seed vector (codes are POSITIONS in id
    order, 0-based, independent of the actual id values). A real
    deployment k-means-refines these (:func:`pq_train`); the seed keeps
    the oracle gate cross-engine checkable, and the encode/ADC mechanics
    are identical either way. Driver-side collect of ksub rows —
    codebooks are dimension data, like the IVF centroids."""
    rows = (
        df.select(
            F.col(id_col).cast("long").alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("i")
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"need >= {ksub} vectors to seed the codebooks")
    vecs = [list(r.v) for r in rows]
    dim = len(vecs[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [[v[s * dsub : (s + 1) * dsub] for v in vecs] for s in range(m)]


def pq_encode(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    m: int = 4,
    ksub: int = 16,
    scale: int = 10**7,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encode: each vector -> ``m`` codeword indices
    (one per contiguous subspace), the Faiss-style compression that turns
    a 64-dim float corpus into m bytes/vector before ADC search — THE
    100 TB ANN storage shape (256x smaller than float64, scanned with
    table lookups instead of FLOPs).

    Assignment is argmin of SCALED-INTEGER squared L2 (ties to the
    lowest code): round(x*scale) longs make every distance exact 64-bit
    arithmetic, so Spark's fold and the SQL oracle agree bit-for-bit —
    no float-summation-order hazard. Plan: one broadcast of the
    (m x ksub x dsub) codebook literal + a per-row fold — map-only, no
    shuffle, no Python, at any corpus size.

    Returns (id, codes array<int>).
    """
    spark = df.sparkSession
    if codebooks is None:
        codebooks = pq_codebook_data(
            df, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
        )
    dsub = len(codebooks[0][0])
    cbdf = spark.createDataFrame([(codebooks,)], "cb array<array<array<double>>>")
    sv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )
    # keep: column passthrough — same rationale as ivf_assign(keep=)
    base = df.crossJoin(F.broadcast(cbdf)).select(
        F.col(id_col).alias("id"),
        sv.alias("se"),
        "cb",
        *[F.col(c) for c in keep],
    )
    return base.select(
        "id",
        _pq_codes_expr(dsub, scale).alias("codes"),
        *[F.col(c) for c in keep],
    )


def _pq_codes_expr(dsub: int, scale: int) -> Column:
    """PQ code-assignment expression over columns ``se`` (scaled long
    vector) and ``cb`` (broadcast codebook literal): per subspace, the
    argmin-distance codeword via a struct-min fold — exact 64-bit
    integer arithmetic, ties to the lowest code."""

    def best_code(book, s):
        scored = F.transform(
            book,
            lambda cw, j: F.struct(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(dsub - 1)),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc
                    + (
                        F.element_at(F.col("se"), (s * dsub + i + 1).cast("int"))
                        - F.round(F.element_at(cw, (i + 1).cast("int")) * scale).cast(
                            "long"
                        )
                    )
                    * (
                        F.element_at(F.col("se"), (s * dsub + i + 1).cast("int"))
                        - F.round(F.element_at(cw, (i + 1).cast("int")) * scale).cast(
                            "long"
                        )
                    ),
                ).alias("dist"),
                j.cast("int").alias("code"),
            ),
        )
        init = F.struct(
            F.lit(2**62).cast("long").alias("dist"),
            F.lit(2**31 - 1).cast("int").alias("code"),
        )
        return F.aggregate(scored, init, lambda acc, x: F.least(acc, x))["code"]

    return F.transform(F.col("cb"), best_code)


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    scale: int = 10**7,
) -> list[list[list[float]]]:
    """Lloyd's k-means refinement of the PQ seed codebooks, per subspace
    — the recall story for real deployments. Deterministic and
    cross-engine reproducible by the same construction as
    :func:`ivf_train`: assignment is the integer-exact argmin of
    :func:`pq_encode`, the update is the per-(subspace, code, dim) mean
    computed in INTEGER space (``floor(sum(round(val*scale)) / n) /
    scale`` — long sums are order-independent), and an empty cell keeps
    its previous codeword. Per iteration: one map-only encode pass + one
    (m x ksub x dsub)-group hash agg with tiny shuffle output."""
    import math

    books = pq_codebook_data(df, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub)
    dsub = len(books[0][0])
    for _ in range(iters):
        enc = pq_encode(
            df,
            id_col=id_col,
            vec_col=vec_col,
            codebooks=books,
            scale=scale,
            keep=(vec_col,),
        )
        stats = (
            enc.select(
                "codes",
                F.posexplode(
                    F.col(vec_col).cast("array<double>")
                ).alias("pos", "val"),
            )
            .select(
                (F.col("pos") / dsub).cast("int").alias("sub"),
                F.element_at(
                    F.col("codes"), ((F.col("pos") / dsub).cast("int") + 1)
                ).alias("code"),
                (F.col("pos") % dsub).alias("dim"),
                F.round(F.col("val") * scale).cast("long").alias("sval"),
            )
            .groupBy("sub", "code", "dim")
            .agg(F.sum("sval").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in stats:
            cell.setdefault((r.sub, r.code), {})[r.dim] = (
                math.floor(r.s / r.n) / scale
            )
        books = [
            [
                [cell[(s, j)][d] for d in range(dsub)]
                if (s, j) in cell
                else cw
                for j, cw in enumerate(book)
            ]
            for s, book in enumerate(books)
        ]
    return books


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]],
    k: int = 5,
    scale: int = 10**7,
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-encoded corpus: each probe
    precomputes its (m x ksub) distance table against the codebooks,
    then every corpus vector costs m TABLE LOOKUPS (not FLOPs) — the
    classic ADC scan. All distances are the scaled-integer squared L2
    of :func:`pq_encode`, so ranking is exact 64-bit arithmetic with a
    full (adist, id) tie-break — no float flakiness in any engine.

    Plan shape at 100 TB: the distance tables are built by a tiny
    Spark job over the probe batch (probes x m x ksub longs — query-
    batch dimension data) and BROADCAST; the corpus side is one
    map-only pass over the encoded vectors + a per-probe top-k window.
    No shuffle touches the corpus except the final per-probe rank.

    Returns (probe_id, id, adist, rk) with rk <= k, self-pairs excluded.
    """
    dtab = _pq_dtab(
        probes, id_col=id_col, vec_col=vec_col, codebooks=codebooks, scale=scale
    )
    enc = pq_encode(
        corpus, id_col=id_col, vec_col=vec_col, codebooks=codebooks, scale=scale
    )
    w = Window.partitionBy("probe_id").orderBy("adist", "id")
    return (
        enc.crossJoin(F.broadcast(dtab))
        .filter(F.col("id") != F.col("probe_id"))
        .select("probe_id", "id", _pq_adist_expr().alias("adist"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def _pq_dtab(
    probes: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    scale: int,
) -> DataFrame:
    """Per-probe ADC distance tables (probe_id, dtab array<array<long>>):
    a tiny probe-batch job over the broadcast codebook literal —
    query-batch dimension data, meant to be broadcast downstream."""
    spark = probes.sparkSession
    dsub = len(codebooks[0][0])
    cbdf = spark.createDataFrame([(codebooks,)], "cb array<array<array<double>>>")
    psv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )

    def sub_dists(book, s):
        return F.transform(
            book,
            lambda cw: F.aggregate(
                F.sequence(F.lit(0), F.lit(dsub - 1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc
                + (
                    F.element_at(F.col("pse"), (s * dsub + i + 1).cast("int"))
                    - F.round(F.element_at(cw, (i + 1).cast("int")) * scale).cast(
                        "long"
                    )
                )
                * (
                    F.element_at(F.col("pse"), (s * dsub + i + 1).cast("int"))
                    - F.round(F.element_at(cw, (i + 1).cast("int")) * scale).cast(
                        "long"
                    )
                ),
            ),
        )

    return (
        probes.crossJoin(F.broadcast(cbdf))
        .select(F.col(id_col).alias("probe_id"), psv.alias("pse"), "cb")
        .select("probe_id", F.transform(F.col("cb"), sub_dists).alias("dtab"))
    )


def _pq_adist_expr() -> Column:
    """ADC distance over columns ``codes`` and ``dtab``: m table lookups
    + an exact long sum."""
    return F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, s: F.element_at(
                F.element_at(F.col("dtab"), (s + 1).cast("int")),
                (c + 1).cast("int"),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    nprobe: int = 2,
    codebooks: list[list[list[float]]],
    k: int = 5,
    scale: int = 10**7,
    round_digits: int = 6,
    centroids: tuple[list[list[float]], list[int]] | None = None,
) -> DataFrame:
    """IVF+PQ approximate top-k — the full Faiss-style recipe for
    billion-vector search: the coarse quantizer (:func:`ivf_assign`)
    restricts each probe to its ``nprobe`` most promising inverted
    lists, and within those lists ranking is the ADC table-lookup scan
    of :func:`pq_adc_topk` over the m-byte PQ codes — the corpus is
    never touched at full precision at query time.

    Plan shape at 100 TB: the stored index is (centroid_id, codes) —
    both map-only passes at write time, laid out partitioned by
    ``centroid_id`` so unprobed lists prune at the directory level
    (``IvfIndex`` demonstrates that storage layout); the probe side
    (nprobe list picks + the (m x ksub) distance tables) is a tiny
    broadcast job; the candidate join is an equi-join on
    ``centroid_id`` with the probe side broadcast. Only ~nprobe/C of
    the corpus reaches the per-probe rank window, and each candidate
    costs m integer lookups. Ranking is exact 64-bit arithmetic with
    an (adist, id) tie-break.
    """
    spark = corpus.sparkSession
    dsub = len(codebooks[0][0])

    if centroids is not None:
        cvs, cids = centroids
    else:
        cvs, cids = ivf_centroid_data(
            corpus, id_col=id_col, vec_col=vec_col, num_centroids=num_centroids
        )

    # stored index rows (centroid_id, codes): BOTH assignments are
    # per-row folds over broadcast literals, so they ride ONE map-only
    # pass — a join of pq_encode with ivf_assign would shuffle the whole
    # corpus on id twice for no reason
    cbdf = spark.createDataFrame([(codebooks,)], "cb array<array<array<double>>>")
    cents_df = spark.createDataFrame(
        [(cvs, cids)], "cents array<array<double>>, cids array<int>"
    )
    sv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )
    lists = (
        corpus.crossJoin(F.broadcast(cbdf))
        .crossJoin(F.broadcast(cents_df))
        .select(
            F.col(id_col).alias("id"),
            sv.alias("se"),
            F.col(vec_col).cast("array<double>").alias("fv"),
            "cb",
            "cents",
            "cids",
        )
        .select(
            "id",
            _pq_codes_expr(dsub, scale).alias("codes"),
            (-_ivf_best_expr(F.col("fv"), round_digits)["negid"])
            .cast("int")
            .alias("centroid_id"),
        )
    )

    cent_rows = spark.createDataFrame(
        list(zip(cids, cvs)), "cid int, cv array<double>"
    )
    pc_w = Window.partitionBy("probe_id").orderBy(F.desc("c_cos"), F.asc("cid"))
    probe_cents = (
        probes.select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
        )
        .crossJoin(F.broadcast(cent_rows))
        .withColumn(
            "c_cos", F.round(cosine(F.col("probe_vec"), F.col("cv")), round_digits)
        )
        .withColumn("crank", F.row_number().over(pc_w))
        .filter(F.col("crank") <= nprobe)
        .select("probe_id", F.col("cid").alias("p_centroid_id"))
    )

    dtab = _pq_dtab(
        probes, id_col=id_col, vec_col=vec_col, codebooks=codebooks, scale=scale
    )
    # both sides are probe-batch-sized — broadcast instead of letting a
    # sort-merge join shuffle them on probe_id
    probe_side = probe_cents.join(F.broadcast(dtab), "probe_id")

    w = Window.partitionBy("probe_id").orderBy("adist", "id")
    return (
        lists.join(
            F.broadcast(probe_side),
            (F.col("centroid_id") == F.col("p_centroid_id"))
            & (F.col("id") != F.col("probe_id")),
        )
        .select("probe_id", "id", _pq_adist_expr().alias("adist"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    tau: float = 0.2,
    round_digits: int = 6,
    centroids: tuple[list[list[float]], list[int]] | None = None,
    boundary=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): cluster the embeddings with the coarse quantizer,
    then WITHIN each cluster drop every vector that has a near-duplicate
    (rounded cosine >= tau) of higher keep-priority — priority is
    (centroid_cosine asc, id asc), i.e. the survivor of a duplicate
    group is the item FARTHEST from its centroid (the paper's
    low-centroid-similarity keep rule), ties broken by id. One-shot
    rule: x is dropped iff SOME higher-priority y in its cluster is
    tau-similar to it — deterministic, non-iterative, and exactly
    expressible in SQL (no recursive component chase).

    Scale shape: clustering is the map-only :func:`ivf_assign` fold; the
    pair probe is an EQUI-join on ``centroid_id`` (never all-pairs —
    with C sized so clusters fit memory, each cluster's quadratic work
    is bounded, the same contract as the LSH band buckets), and the
    drop set comes back via one anti-join. Returns the kept rows
    (id, centroid_id, centroid_cosine).

    ``boundary``: optional ``f(df, tag) -> df`` stage materializer
    (e.g. the caller's parquet spill boundary). The assignment frame is
    referenced THREE times — both pair-probe sides and the final keep
    anti-join — and Catalyst re-evaluates the unmaterialized fold per
    reference: three full corpus scans + centroid folds at any scale
    (guide §2.4). With a boundary the fold runs once and the three
    consumers scan the materialized columns.
    """
    # vectors ride the assignment's own projection (keep=) instead of
    # the former assign ⋈ df join-back on id — that join shuffled the
    # embedding table twice per pair-probe side for columns the map-only
    # fold can carry (guide §2.4)
    assign = ivf_assign(
        df,
        id_col=id_col,
        vec_col=vec_col,
        num_centroids=num_centroids,
        round_digits=round_digits,
        centroids=centroids,
        keep=(vec_col,),
    ).withColumnRenamed(vec_col, "v")
    # per-row norm computed ONCE on the map side: the pair probe then
    # pays a single dot-product fold per pair instead of cosine()'s
    # three folds — same float expression tree (dot / (sqrt(aa) *
    # sqrt(bb))), so the rounded value stays bit-identical to the oracle
    base = assign.withColumn("nrm", l2_norm(F.col("v")))
    if boundary is not None:
        base = boundary(
            base.select("id", "centroid_id", "centroid_cosine", "v", "nrm"),
            "sem_assign",
        )
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("centroid_id").alias("cid_a"),
        F.col("centroid_cosine").alias("ccos_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("centroid_id").alias("cid_b"),
        F.col("centroid_cosine").alias("ccos_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    higher_priority = (F.col("ccos_a") < F.col("ccos_b")) | (
        (F.col("ccos_a") == F.col("ccos_b")) & (F.col("id_a") < F.col("id_b"))
    )
    pair_cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # Parallelism guard for the quadratic stage (guide §2.5): the pair
    # probe's equi-join key has only C distinct values, so its shuffle
    # can never use more than C tasks — and AQE byte-based coalescing
    # collapses it further (measured: ONE 2.5 s task held the whole
    # probe at gate scale while 31 cores idled; the stage is
    # compute-per-row heavy, the opposite of what byte heuristics
    # assume). Salt the priority side with ceil(cores / C) slices and
    # replicate the candidate side per slice: every (a, b) cluster pair
    # still meets exactly once, so the result is identical, while the
    # join spreads over C x S tasks. S == 1 — bitwise the old plan,
    # zero replication — whenever C >= cores, which is the production
    # regime (C is sized so clusters fit executor memory); when cores
    # exceed C the quadratic probe dominates the (linear) replicated
    # shuffle by construction, so buying C x S parallelism is the right
    # trade at every scale.
    par = df.sparkSession.sparkContext.defaultParallelism
    n_salt = max(1, -(-par // max(1, num_centroids)))
    if n_salt == 1:
        pairs = a.join(b, (F.col("cid_a") == F.col("cid_b")) & higher_priority)
    else:
        # The explicit repartition pins the probe's streamed side at the
        # full core count: AQE's byte-based coalescing merges partitions
        # below minPartitionSize (1 MB) however compute-heavy they are,
        # but never touches a user-specified repartition, and the join
        # reuses this partitioning (same keys, same count) so no second
        # exchange appears. Only active in the cores > C regime.
        a = a.withColumn("_salt", F.pmod(F.col("id_a"), F.lit(n_salt))).repartition(
            par, F.col("cid_a"), F.col("_salt")
        )
        b = b.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        ).repartition(par, F.col("cid_b"), F.col("_salt"))
        pairs = a.join(
            b,
            (F.col("cid_a") == F.col("cid_b"))
            & (a["_salt"] == b["_salt"])
            & higher_priority,
        )
    dropped = (
        pairs.filter(F.round(pair_cos, round_digits) >= tau)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    # keep set reads `base` (the boundary when one was given) — the
    # extra v/nrm columns are pruned, so without a boundary this is the
    # same assign subtree as before
    return base.select("id", "centroid_id", "centroid_cosine").join(
        dropped, "id", "left_anti"
    )


class IvfIndex:
    """Persistent IVF index for INCREMENTAL approximate nearest-neighbor
    search — the embedding-space sibling of ``dedup.LshIndex`` /
    ``dedup.ExactIndex``. ``build()`` trains the coarse centroids once
    (integer-exact Lloyd's refinement, :func:`ivf_train`) and stores
    them with the corpus assignments; ``add()`` assigns arriving vectors
    against the STORED centroids — a map-only broadcast fold, no
    retraining, cost O(batch) — and appends them to their inverted
    lists; ``topk()`` reads only the probed lists (the parquet layout
    is partitioned by ``centroid_id``, so unprobed lists are pruned at
    the directory level).

    At corpus scale this is the write-once/search-many ANN shape: the
    expensive global pass (centroid training) happens once, each batch
    pays one scan of itself, and a query touches ~nprobe/C of the
    corpus. With ``nprobe == num_centroids`` results are EXACT (equal
    to brute-force cosine top-k) regardless of where the centroids
    landed — the oracle gate pins that identity.
    """

    def __init__(self, spark, path: str):
        import os

        self.spark = spark
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)
        self._meta = os.path.join(self.path, "centroids.json")
        self._data = os.path.join(self.path, "lists")

    def _centroids(self) -> tuple[list[list[float]], list[int]]:
        import json
        import os

        if not os.path.exists(self._meta):
            raise ValueError(f"index at {self.path} has no centroids; build() first")
        with open(self._meta) as f:
            m = json.load(f)
        return m["vectors"], m["ids"]

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        *,
        num_centroids: int = 8,
        iters: int = 1,
    ) -> DataFrame:
        """Train centroids on ``df`` and index it. Returns assignments."""
        cvs, cids = ivf_train(
            df,
            id_col=id_col,
            vec_col=vec_col,
            num_centroids=num_centroids,
            iters=iters,
        )
        write_json_atomic(self._meta, {"vectors": cvs, "ids": cids})
        return self.add(df, id_col, vec_col)

    def add(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """Assign ``df`` against the stored centroids (map-only) and
        append to the inverted lists. Returns the assignments."""
        cvs, cids = self._centroids()
        # vectors ride the assignment projection (keep=) — the former
        # join-back on id shuffled the batch twice (guide §2.4)
        assigned = ivf_assign(
            df, id_col=id_col, vec_col=vec_col, centroids=(cvs, cids),
            keep=(vec_col,),
        ).select(
            F.col("id").cast("long").alias("id"),
            "centroid_id",
            "centroid_cosine",
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        out = assigned.localCheckpoint(eager=True)  # pin before the append
        # One task per populated list bounds the small-file count (same
        # rationale as ExactIndex's count-sized append).
        out.select("id", "vec", "centroid_id").repartition(
            "centroid_id"
        ).write.mode("append").partitionBy("centroid_id").parquet(self._data)
        return out.select("id", "centroid_id", "centroid_cosine")

    def topk(
        self, probes: DataFrame, *, nprobe: int = 2, k: int = 5,
        id_col: str = "vec_id", vec_col: str = "embedding",
        round_digits: int = 6,
    ) -> DataFrame:
        """Search the index: rank centroids per probe, read ONLY the
        probed lists (partition-pruned scan), exact cosine inside them."""
        cvs, cids = self._centroids()
        spark = self.spark
        cent_rows = spark.createDataFrame(
            list(zip(cids, cvs)), "cid int, cv array<double>"
        )
        p = probes.select(
            F.col(id_col).cast("long").alias("probe_id"),
            F.col(vec_col).cast("array<double>").alias("probe_vec"),
        )
        pc_w = Window.partitionBy("probe_id").orderBy(
            F.desc("c_cos"), F.asc("cid")
        )
        probe_cents = (
            p.crossJoin(F.broadcast(cent_rows))
            .withColumn(
                "c_cos",
                F.round(cosine(F.col("probe_vec"), F.col("cv")), round_digits),
            )
            .withColumn("crank", F.row_number().over(pc_w))
            .filter(F.col("crank") <= nprobe)
            .select("probe_id", "probe_vec", F.col("cid").alias("p_centroid_id"))
        )
        probed = [
            r["p_centroid_id"]
            for r in probe_cents.select("p_centroid_id").distinct().collect()
        ]
        lists = self.spark.read.schema(
            "id long, vec array<double>, centroid_id int"
        ).option("basePath", self._data).parquet(self._data)
        # .where on the partition column prunes unprobed list dirs.
        cands = lists.where(F.col("centroid_id").isin(probed))
        w = Window.partitionBy("probe_id").orderBy(
            F.desc("cosine"), F.asc("cand_id")
        )
        return (
            cands.join(
                F.broadcast(probe_cents),
                (F.col("centroid_id") == F.col("p_centroid_id"))
                & (F.col("id") != F.col("probe_id")),
            )
            .withColumn(
                "cosine",
                F.round(cosine(F.col("probe_vec"), F.col("vec")), round_digits),
            )
            .select("probe_id", F.col("id").alias("cand_id"), "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )


class IvfPqIndex:
    """Persistent IVF+PQ index — the at-rest form of :func:`ivf_pq_topk`
    and the completion of the incremental-index family (``LshIndex`` /
    ``ExactIndex`` / ``IvfIndex``): the inverted lists hold m PQ CODES
    per vector instead of the vector itself, so at 100 TB the index is
    ~(8*dim)/m smaller than the corpus (64-dim float64 at m=4: 128x) and
    a query scans bytes, not floats.

    ``build()`` trains the coarse centroids (integer-exact Lloyd's) and
    the PQ codebooks (``pq_iters`` of per-subspace Lloyd's; 0 keeps the
    deterministic seed) once and stores both in the index metadata;
    ``add()`` assigns AND encodes arriving vectors against the STORED
    parameters in one map-only pass (no retraining, cost O(batch)) and
    appends to the lists; ``topk()`` reads only the probed lists (the
    parquet layout is partitioned by ``centroid_id``) and ranks by ADC —
    m integer lookups per candidate. With ``nprobe == num_centroids``
    results equal the flat ADC scan over everything ever added, which is
    what the oracle gate pins (brute-force-equality can't hold here: PQ
    is lossy by design; fidelity is measured in tools/ann_recall.py).
    """

    def __init__(self, spark, path: str):
        import os

        self.spark = spark
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)
        self._meta = os.path.join(self.path, "params.json")
        self._data = os.path.join(self.path, "lists")

    def _params(self):
        import json
        import os

        if not os.path.exists(self._meta):
            raise ValueError(f"index at {self.path} has no params; build() first")
        with open(self._meta) as f:
            m = json.load(f)
        return m["centroid_vectors"], m["centroid_ids"], m["codebooks"], m["scale"]

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        *,
        num_centroids: int = 8,
        iters: int = 1,
        pq_m: int = 4,
        pq_ksub: int = 16,
        pq_iters: int = 0,
        scale: int = 10**7,
    ) -> DataFrame:
        """Train centroids + codebooks on ``df`` and index it."""
        cvs, cids = ivf_train(
            df,
            id_col=id_col,
            vec_col=vec_col,
            num_centroids=num_centroids,
            iters=iters,
        )
        if pq_iters > 0:
            books = pq_train(
                df,
                id_col=id_col,
                vec_col=vec_col,
                m=pq_m,
                ksub=pq_ksub,
                iters=pq_iters,
                scale=scale,
            )
        else:
            books = pq_codebook_data(
                df, id_col=id_col, vec_col=vec_col, m=pq_m, ksub=pq_ksub
            )
        write_json_atomic(
            self._meta,
            {
                "centroid_vectors": cvs,
                "centroid_ids": cids,
                "codebooks": books,
                "scale": scale,
            },
        )
        return self.add(df, id_col, vec_col)

    def add(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """Encode + assign ``df`` against the stored parameters — ONE
        map-only pass (codes and centroid ride the same projection, the
        same single-pass shape :func:`ivf_pq_topk` plan-asserts) — and
        append to the inverted lists."""
        cvs, cids, books, scale = self._params()
        dsub = len(books[0][0])
        spark = df.sparkSession
        cbdf = spark.createDataFrame([(books,)], "cb array<array<array<double>>>")
        cents_df = spark.createDataFrame(
            [(cvs, cids)], "cents array<array<double>>, cids array<int>"
        )
        sv = F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * scale).cast("long"),
        )
        rows = (
            df.crossJoin(F.broadcast(cbdf))
            .crossJoin(F.broadcast(cents_df))
            .select(
                F.col(id_col).cast("long").alias("id"),
                sv.alias("se"),
                F.col(vec_col).cast("array<double>").alias("fv"),
                "cb",
                "cents",
                "cids",
            )
            .select(
                "id",
                _pq_codes_expr(dsub, scale).alias("codes"),
                (-_ivf_best_expr(F.col("fv"), 6)["negid"])
                .cast("int")
                .alias("centroid_id"),
            )
        )
        out = rows.localCheckpoint(eager=True)  # pin before the append
        out.repartition("centroid_id").write.mode("append").partitionBy(
            "centroid_id"
        ).parquet(self._data)
        return out

    def topk(
        self,
        probes: DataFrame,
        *,
        nprobe: int = 2,
        k: int = 5,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        round_digits: int = 6,
    ) -> DataFrame:
        """ADC search over the probed lists only: the scan reads the
        partition-pruned code files (never a vector), each candidate
        costs m integer table lookups."""
        cvs, cids, books, scale = self._params()
        spark = self.spark
        cent_rows = spark.createDataFrame(
            list(zip(cids, cvs)), "cid int, cv array<double>"
        )
        p = probes.select(
            F.col(id_col).cast("long").alias("probe_id"),
            F.col(vec_col).cast("array<double>").alias("probe_vec"),
        )
        pc_w = Window.partitionBy("probe_id").orderBy(F.desc("c_cos"), F.asc("cid"))
        probe_cents = (
            p.crossJoin(F.broadcast(cent_rows))
            .withColumn(
                "c_cos",
                F.round(cosine(F.col("probe_vec"), F.col("cv")), round_digits),
            )
            .withColumn("crank", F.row_number().over(pc_w))
            .filter(F.col("crank") <= nprobe)
            .select("probe_id", F.col("cid").alias("p_centroid_id"))
        )
        dtab = _pq_dtab(
            probes, id_col=id_col, vec_col=vec_col, codebooks=books, scale=scale
        )
        probe_side = probe_cents.join(F.broadcast(dtab), "probe_id")
        probed = [
            r["p_centroid_id"]
            for r in probe_cents.select("p_centroid_id").distinct().collect()
        ]
        lists = (
            self.spark.read.schema("id long, codes array<int>, centroid_id int")
            .option("basePath", self._data)
            .parquet(self._data)
        )
        # .where on the partition column prunes unprobed list dirs.
        cands = lists.where(F.col("centroid_id").isin(probed))
        w = Window.partitionBy("probe_id").orderBy("adist", "id")
        return (
            cands.join(
                F.broadcast(probe_side),
                (F.col("centroid_id") == F.col("p_centroid_id"))
                & (F.col("id") != F.col("probe_id")),
            )
            .select("probe_id", "id", _pq_adist_expr().alias("adist"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
        )
