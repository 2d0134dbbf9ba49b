"""connected_components: exactness vs a driver-side union-find, plus
convergence behavior on adversarial shapes (long chains)."""

import random

from sonnerie_spark.operators import graph, sampling


def _uf_components(edges):
    """Reference union-find over the same edge list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical label = min node id of the component
    comps = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    out = {}
    for members in comps.values():
        lbl = min(members)
        for n in members:
            out[n] = lbl
    return out


def _run(spark, edges):
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {
        r["id"]: r["comp"]
        for r in graph.connected_components(df, "id_a", "id_b").collect()
    }
    assert got == _uf_components(edges)
    return got


def test_cc_two_components(spark):
    _run(spark, [(1, 2), (2, 3), (5, 6)])


def test_cc_self_loop_and_dup_edges(spark):
    got = _run(spark, [(7, 7), (1, 2), (2, 1), (1, 2)])
    assert got[7] == 7 and got[2] == 1


def test_cc_long_chain_converges(spark):
    # a 40-node path has diameter 39; pointer jumping must converge it
    # well within max_iter=25 (plain propagation alone would not).
    edges = [(i, i + 1) for i in range(40)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}


def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    _run(spark, edges)


def test_keep_canonical_per_component(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], "id: long, comp: long"
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (5, 7), (6, 7)], "doc_id: long, n_chars: long"
    )
    rows = {
        r["comp"]: (r["keep_id"], r["n_members"])
        for r in sampling.keep_canonical_per_component(comps, docs).collect()
    }
    # comp 1: lengths (10,30,30) -> longest, tie broken by smallest id = 2
    # comp 5: lengths (7,7) -> smallest id = 5
    assert rows == {1: (2, 3), 5: (5, 2)}


def test_lsh_index_incremental_equals_one_shot(spark, sf_dir, tmp_path):
    """Union of per-batch LshIndex.add() pair sets == the one-shot
    minhash_lsh_pairs over the whole corpus."""
    from sonnerie_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    one_shot = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }

    idx = dedup.LshIndex(spark, str(tmp_path / "lsh"))
    b1 = docs.filter(docs.doc_id % 2 == 0)
    b2 = docs.filter(docs.doc_id % 2 == 1)
    got = {
        (r["id_a"], r["id_b"])
        for r in idx.add(b1, "doc_id", "text").collect()
    } | {
        (r["id_a"], r["id_b"])
        for r in idx.add(b2, "doc_id", "text").collect()
    }
    assert got == one_shot and one_shot

    # parameter mismatch on reopen is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="built with"):
        dedup.LshIndex(spark, str(tmp_path / "lsh"), band_size=8)


def test_cc_nonconvergence_raises(spark):
    """An unconverged result would silently violate the min-label
    contract; the loop must fail loudly instead."""
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    from sonnerie_spark.operators import graph

    with _pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(df, "id_a", "id_b", max_iter=2)


def test_observed_label_sum_refuses_overflowed_null():
    """A NULL (overflowed) label sum must raise, never read as 0: two
    overflowed rounds would otherwise compare equal and report a false
    convergence. NULL over zero rows is the empty graph's sum."""
    import pytest as _pytest

    assert graph.observed_label_sum({"s": 42, "n": 3}) == 42
    assert graph.observed_label_sum({"s": 0, "n": 1}) == 0
    assert graph.observed_label_sum({"s": None, "n": 0}) == 0
    with _pytest.raises(ArithmeticError, match="overflowed"):
        graph.observed_label_sum({"s": None, "n": 5})


def test_cc_empty_graph(spark):
    assert _run(spark, []) == {}


def test_lsh_index_compact_preserves_probes(spark, sf_dir, tmp_path):
    from sonnerie_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = dedup.LshIndex(spark, str(tmp_path / "lshc"))
    idx.add(docs.filter(docs.doc_id % 3 == 0), "doc_id", "text")
    idx.add(docs.filter(docs.doc_id % 3 == 1), "doc_id", "text")
    import glob

    n_before = len(glob.glob(str(tmp_path / "lshc" / "bands" / "*.parquet")))
    idx.compact()
    n_after = len(glob.glob(str(tmp_path / "lshc" / "bands" / "*.parquet")))
    assert n_after <= n_before
    # probing after compaction yields the same pairs as the one-shot set
    got = {
        (r["id_a"], r["id_b"])
        for r in idx.add(docs.filter(docs.doc_id % 3 == 2), "doc_id", "text").collect()
    }
    one_shot = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    b2 = docs.filter(docs.doc_id % 3 == 2)
    ids2 = {r["doc_id"] for r in b2.select("doc_id").collect()}
    expected = {p for p in one_shot if p[0] in ids2 or p[1] in ids2}
    assert got == expected


def test_lsh_index_capped_hot_bucket_suppression(spark, tmp_path):
    """max_bucket_size on the LSH paths: a degenerate bucket (here 6
    identical docs -> one signature) emits no pairs once its TOTAL
    membership exceeds the cap. Capped incremental output must sit
    between the capped one-shot set (pairs a bucket emitted before
    outgrowing the cap may survive) and the uncapped one-shot set."""
    from sonnerie_spark.operators import dedup

    T = "the quick brown fox jumps over the lazy dog again"
    U = "lorem ipsum dolor sit amet consectetur adipiscing elit now"
    rows = [(i, T) for i in range(1, 7)] + [(10, U), (11, U)] + [
        (20, "completely different text entirely here with many words")
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    uncapped = pairs(dedup.minhash_lsh_pairs(docs, "doc_id", "text"))
    capped = pairs(
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", max_bucket_size=3)
    )
    # the 6-copy bucket (15 pairs) is suppressed; the 2-copy pair stays
    assert capped == {(10, 11)}
    assert (1, 2) in uncapped and len(uncapped) == 16

    idx = dedup.LshIndex(spark, str(tmp_path / "lshcap"), max_bucket_size=3)
    b1 = docs.filter(docs.doc_id.isin(1, 2, 10, 20))
    b2 = docs.filter(docs.doc_id.isin(3, 4, 5, 6, 11))
    got = pairs(idx.add(b1, "doc_id", "text")) | pairs(
        idx.add(b2, "doc_id", "text")
    )
    # batch 1 saw the hot bucket at size 2 (under cap) -> (1,2) emitted;
    # batch 2 sees it at 6 -> suppressed; the cross-batch (10,11) lands
    assert got == {(1, 2), (10, 11)}
    assert capped <= got <= uncapped
