"""Precision/recall properties of the probabilistic dedup & ANN operators
(their queries() entries are rows-only; these tests pin semantics)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from gfs_to_prometheus_spark.operators import dedup, similarity
from tests.conftest import SF_DIR, compare_frames


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_minhash_lsh_subset_of_exact_with_recall(spark, docs):
    """Verified LSH pairs must be a subset of the exact-Jaccard pairs
    (precision 1.0); banding with k=32,b=8 should catch most of them."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.05).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(
            docs, k=32, bands=8, threshold=0.05
        ).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0
    assert len(lsh) / len(exact) >= 0.5  # recall floor at this low threshold


def test_minhash_high_jaccard_recall_is_total(spark):
    """Near-identical docs (J >= 0.8) must always be caught by 8 bands of 4."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [(0, base), (1, base + "lambda"), (2, "totally different words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(df, threshold=0.8).collect()
    }
    assert (0, 1) in got
    assert all(2 not in p for p in got)


def test_simhash_close_docs_close_hashes(spark):
    base = "one two three four five six seven eight nine ten " * 10
    rows = [(0, base), (1, base + " eleven"), (2, "x y z " * 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ham01 = bin(h[0] ^ h[1]).count("1")
    ham02 = bin(h[0] ^ h[2]).count("1")
    assert ham01 < ham02


def test_ann_lsh_subset_quality(spark, emb):
    """Multi-probe LSH top-k: every hit must appear in the exact top-50 and
    the exact top-1 must be found (smoke-level recall on 500 vectors)."""
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, 0, k=50).collect()]
    approx = [r["vec_id"] for r in similarity.ann_lsh_topk(emb, 0, k=10).collect()]
    assert len(approx) == 10
    overlap = len(set(approx) & set(exact))
    assert overlap >= 5  # bucketed candidates still surface mostly-true tops


def test_ivf_recall(spark, emb):
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, 0, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ivf_topk(emb, 0, k=10).collect()]
    assert len(approx) == 10
    # probing 4/16 lists must still recover a majority of the true top-10
    assert len(set(approx) & set(exact)) >= 5
    # determinism
    again = [r["vec_id"] for r in similarity.ivf_topk(emb, 0, k=10).collect()]
    assert approx == again


@pytest.mark.parametrize(
    "search", [similarity.cosine_topk, similarity.ann_lsh_topk, similarity.ivf_topk]
)
@pytest.mark.parametrize("case", ["missing", "duplicated"])
def test_topk_rejects_bad_query_id(spark, emb, search, case):
    """A query id that matches no row, or two rows, is a named error (not
    an unpacking error, a StopIteration or a silent pick of one row)."""
    if case == "missing":
        df, qid = emb, 10**12
    else:
        df, qid = emb.unionByName(emb.filter("vec_id = 3")), 3
    with pytest.raises(ValueError, match=rf"query_vec_id {qid} matches"):
        search(df, qid, k=5)


def test_lsh_verify_is_candidate_local(spark, docs):
    """The verification step must never run the all-pairs shingle self-join:
    every equi-join on `shingle` must be keyed on (doc id, shingle), i.e. no
    physical join whose ONLY equi-key is the shingle column."""
    import re

    plan = (
        dedup.minhash_lsh_candidates(docs, k=32, bands=8, threshold=0.05)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"Join \[shingle#\d+\]", plan), plan


def test_jaccard_max_df_drops_hot_shingle(spark):
    """One stop-shingle shared by every doc: with max_df it contributes no
    pairs; docs sharing real content still pair up on their rare shingles."""
    hot = "lorem ipsum dolor"  # one 3-gram present in all docs
    rows = [
        (0, hot + " aa bb cc dd ee"),
        (1, hot + " aa bb cc dd ff"),  # shares rare shingles with 0
        (2, hot + " zz yy xx ww vv"),  # shares only the hot shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.jaccard_pairs(df, threshold=0.01, max_df=2).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)
    # uncapped: the hot shingle alone links doc 2 to the others
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(df, threshold=0.01).collect()
    }
    assert (0, 2) in uncapped and (1, 2) in uncapped


def test_candidate_jaccard_matches_all_pairs(spark, docs):
    """candidate_jaccard over the full cross set must agree with
    jaccard_pairs (same common/na/nb/jaccard per pair)."""
    from pyspark.sql import functions as F

    exact = {
        (r["doc_a"], r["doc_b"]): (r["common"], r["na"], r["nb"])
        for r in dedup.jaccard_pairs(docs, threshold=0.05).collect()
    }
    sh = dedup.shingles(docs)
    cands = spark.createDataFrame(
        [(a, b) for (a, b) in exact], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["common"], r["na"], r["nb"])
        for r in dedup.candidate_jaccard(cands, sh).collect()
    }
    assert got == exact


def test_ivf_assignment_is_narrow(spark, emb):
    """IVF assignment must be a per-row argmin over the broadcast centroid
    array: NO shuffle of the corpus (no hash/range exchange), no Window,
    no corpus-side equi-join — the only allowed exchange is the broadcast
    of the single centroid-carrier row (centroid selection itself runs
    eagerly as TakeOrdered before the plan is built)."""
    plan = (
        similarity.ivf_index(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_embedding_dup_lsh_precision_and_recall(spark, emb):
    """LSH near-dup pairs are a subset of the exact pairs (precision 1.0);
    banding with 6 bands of 2 keeps recall high at t=0.4."""
    exact = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in similarity.cosine_dup_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in similarity.cosine_dup_pairs_lsh(emb, threshold=0.4).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0
    assert len(lsh) / len(exact) >= 0.7


def test_embedding_near_identical_always_caught(spark):
    """Planted near-dups (cosine >= 0.99) must be found with certainty-ish
    banding (4 bands of 4 at high threshold)."""
    import numpy as np

    rng = np.random.default_rng(9)
    base = rng.normal(0, 1, 64)
    rows = []
    for i in range(40):
        v = rng.normal(0, 1, 64)
        rows.append((i, [float(x) for x in v]))
    # plant: 100 and 101 are tiny perturbations of the same vector
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in base + rng.normal(0, 0.01, 64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in similarity.cosine_dup_pairs_lsh(
            df, threshold=0.95, planes=16, bands=4
        ).collect()
    }
    assert (100, 101) in got
    assert all(p == (100, 101) for p in got)  # nothing random sneaks past t=0.95


def test_simhash_band_join_is_complete(spark, docs):
    """Pigeonhole completeness: the band join must find EVERY pair within
    the Hamming ball (compare against brute force over collected hashes)."""
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_dup_pairs(docs, max_hamming=3).collect()
    }
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ids = sorted(h)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(h[a] ^ h[b]).count("1") <= 3
    }
    assert got == want
    assert len(want) > 0


def test_components_chain_and_clique(spark):
    """Label propagation converges on a path graph (worst diameter) and
    singleton edges; keeper = min id per component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component"] for r in dedup.components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_ivf_lloyd_refine_monotone(spark, emb):
    """One Lloyd iteration never increases the k-means objective, and the
    refined index still answers top-k deterministically."""
    c0 = similarity.ivf_centroids(emb, n_lists=8)
    d0 = similarity.ivf_total_distance(emb, c0)
    c1 = similarity.ivf_refine(emb, c0)
    d1 = similarity.ivf_total_distance(emb, c1)
    assert d1 <= d0 + 1e-9
    c2 = similarity.ivf_refine(emb, c1)
    d2 = similarity.ivf_total_distance(emb, c2)
    assert d2 <= d1 + 1e-9
    idx = similarity.ivf_index(emb, cents=c2)
    assert idx.select("_list").distinct().count() <= 8


def test_components_chain_converges_in_log_rounds(spark):
    """Pointer jumping: a 64-node path (worst diameter shape — plain
    min-propagation needs 63 rounds) must converge in O(log N) rounds and
    still produce the exact min-label components."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    labels, rounds = dedup.components_with_rounds(pairs)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert got == {i: 1 for i in range(1, 65)}
    assert rounds <= 12, rounds


def test_shingles_ignore_parser_settings(spark, docs):
    """Tokenization must not depend on SQL parser settings: under
    escapedStringLiterals an SQL '\\\\s+' literal no longer matches
    whitespace, which would collapse every document to one shingle."""
    key = "spark.sql.parser.escapedStringLiterals"
    want = sorted(tuple(r) for r in dedup.shingles(docs).collect())
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        got = sorted(tuple(r) for r in dedup.shingles(docs).collect())
    finally:
        spark.conf.set(key, old)
    assert len(want) > docs.count()
    assert got == want


_vec32 = st.floats(
    min_value=-8, max_value=8, width=32, allow_nan=False, allow_infinity=False
)


@st.composite
def _matrices(draw, dim=None):
    """float32 rows (negatives, zeros) with at least one repeated row."""
    import numpy as np

    dim = dim or draw(st.integers(1, 12))
    row = st.lists(st.one_of(st.just(0.0), _vec32), min_size=dim, max_size=dim)
    rows = draw(st.lists(row, min_size=1, max_size=6))
    rows.append(rows[draw(st.integers(0, len(rows) - 1))])
    return np.array(rows, dtype=np.float32).astype(np.float64)


def _ref_isum(a, b, scale=1e12):
    return sum(math.floor(float(x) * float(y) * scale + 0.5) for x, y in zip(a, b))


@settings(max_examples=60, deadline=None)
@given(_matrices(), st.data())
def test_isum_matches_python_reference(X, data):
    q = X[data.draw(st.integers(0, len(X) - 1))]
    got = similarity._isum(X, q)
    assert [int(v) for v in got] == [_ref_isum(x, q) for x in X]
    assert int(similarity._isum(q, q)) == _ref_isum(q, q)


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_nearest_breaks_ties_to_lower_index(data):
    import numpy as np

    C = data.draw(_matrices())
    X = np.concatenate([data.draw(_matrices(C.shape[1])), C])
    C = np.concatenate([C, C[:1]])  # the last centroid ties the first
    idx, d2 = similarity._nearest(X, C)
    for x, i, d in zip(X, idx, d2):
        ref = [_ref_isum(x - c, x - c) for c in C]
        assert int(d) == min(ref)
        assert int(i) == ref.index(min(ref))
        assert int(i) != len(C) - 1


@settings(max_examples=40, deadline=None)
@given(_matrices(), st.integers(1, 8))
def test_sign_bits_match_projection_sign(X, planes):
    W = similarity._planes(planes, X.shape[1])
    bits = similarity._sign_bits(X, W)
    assert bits.shape == (len(X), planes)
    for x, b in zip(X, bits):
        assert list(b) == [_ref_isum(x, w, 1e6) >= 0 for w in W]


def test_sign_bits_blocking_is_seamless():
    """Rows spanning several ~32 MB blocks give the per-row result."""
    import numpy as np

    X = np.random.default_rng(3).normal(size=(700, 64)).astype(np.float32)
    X = X.astype(np.float64)
    W = similarity._planes(256, 64)  # 256 rows per block
    want = np.array([similarity._isum(x, W, 1e6) >= 0 for x in X])
    assert (similarity._sign_bits(X, W) == want).all()


def test_ann_lsh_ten_planes_matches_oracle(spark, emb, duck):
    """A non-default plane count: candidates and ranking match DuckDB."""
    from gfs_to_prometheus_spark import queries  # registers queries_data

    compare_frames(
        similarity.ann_lsh_topk(emb, 0, k=20, planes=10),
        duck.sql(queries.queries_data._ann_lsh_sql(planes=10, k=20)),
    )


def test_ivf_total_distance_is_exact(spark, emb):
    """The Lloyd objective is an exact integer sum: partitioning cannot
    change a single bit of it."""
    cents = similarity.ivf_centroids(emb, n_lists=8)
    d = similarity.ivf_total_distance(emb, cents)
    assert d > 0
    assert similarity.ivf_total_distance(emb.repartition(7), cents) == d
    assert similarity.ivf_total_distance(emb.coalesce(1), cents) == d


@pytest.mark.parametrize(
    "name",
    ["cosine_topk", "ann_lsh_topk", "ivf_ann_topk", "embedding_dup_pairs",
     "embedding_dup_pairs_lsh"],
)
def test_embedding_queries_have_no_interpreted_fold(spark, name):
    """Vector metrics run as numpy kernels: no higher-order function
    (zip_with/aggregate/transform leave a lambdafunction) in the plan."""
    from gfs_to_prometheus_spark.queries import QUERIES

    plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().analyzed()
    assert "lambdafunction" not in plan.toString(), plan.toString()
