"""Similarity search and near-dup pairs over the embeddings table
(vec_id, embedding: array<float>, label).

Every vector metric is one numpy kernel over the scaled-int64 sum rule
`_isum`: term_i = floor(a_i*b_i*scale + 0.5), summed as int64. Each term
is one IEEE product, so the sum is order independent and equals the
DuckDB oracle's BIGINT sum, bit for bit.

* `_cosine`: scaled dot / (sqrt(scaled norm) * sqrt(scaled norm)), in
  double (sqrt is IEEE-exact).
* `_nearest`: argmin of the scaled squared distance to each centroid; a
  tie keeps the lower centroid.
* `_sign_bits`: sign of the projection onto md5-derived integer
  hyperplanes (hashing.plane_weights) at scale 1e6.

The kernels run once per Arrow batch in a narrow mapInPandas. Spark's
higher-order array functions would run the same arithmetic interpreted,
per element, so this module uses none.

* The three top-k searches share `_topk`: one pass drops the rows a
  filter rejects and scores the rest against the driver-resident query
  vector; the global top-k executes as TakeOrdered.
  - `cosine_topk`: brute force, the exact baseline.
  - `ann_lsh_topk`: rows whose sign-LSH bucket is within one bit flip of
    the query's (multi-probe).
  - `ivf_topk`: rows whose nearest hash-sampled centroid is one of the
    n_probe centroids nearest to the query.
* The two pair searches share `_verify_pairs`: `cosine_dup_pairs` over
  all pairs (crossJoin), `cosine_dup_pairs_lsh` over the candidate pairs
  of a banded sign-LSH self-join.

Recall of the LSH and IVF paths is probabilistic, but every value is
deterministic and SQL-reproducible, so each query has a DuckDB oracle.
The query side is driver-resident (one vector, a few centroids); the
corpus side stays partitioned, with no shuffle except the LSH band join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import cachereg
from .hashing import plane_weights

SCALE = 1_000_000_000_000.0  # 1e12: float32 pairs scaled into int64 safely
_PLANE_SCALE = 1_000_000.0  # plane weights in [-1000, 1000]: sums < 2^53


def _isum(a, b, scale: float = SCALE):
    """sum(floor(a*b*scale + 0.5)) over the last axis, as int64."""
    return np.floor(a * b * scale + 0.5).astype(np.int64).sum(axis=-1)


def _cosine(X, q):
    """Cosine of each row of X against q: one row, or one row per row of X."""
    return _isum(X, q) / (np.sqrt(_isum(X, X)) * np.sqrt(_isum(q, q)))


def _nearest(X, C):
    """(index of the nearest row of C, its scaled squared distance) per row
    of X. argmin takes the first minimum, so a tie keeps the lower index."""
    D = np.stack([_isum(d, d) for d in (X - c for c in C)], axis=-1)
    i = D.argmin(axis=-1)
    return i, D[np.arange(len(D)), i]


def _sign_bits(X, W):
    """(rows, planes) bool: projection of each row of X onto each plane of
    W is >= 0. Blocked so the (rows, planes, dim) temporary stays ~32 MB."""
    block = max(1, (1 << 22) // W.size)
    return np.concatenate([
        _isum(X[s : s + block, None, :], W, _PLANE_SCALE) >= 0
        for s in range(0, len(X), block)
    ])


def _planes(planes: int, dim: int):
    return np.array(plane_weights(planes, dim), dtype=np.float64)


def _vectors(col: pd.Series):
    """An Arrow batch's array<float> column as an (n, dim) float64 matrix."""
    return np.stack(col.to_numpy()).astype(np.float64)


def _map(df: DataFrame, fn, schema: str) -> DataFrame:
    """df.mapInPandas applying fn(pdf) -> pdf to every non-empty batch."""

    def go(batches):
        for pdf in batches:
            if len(pdf):
                yield fn(pdf)

    return df.mapInPandas(go, schema)


def _schema(df: DataFrame, extra: str) -> str:
    """df's columns plus ``extra`` as a mapInPandas DDL schema."""
    cols = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    return ", ".join(cols + [extra])


def _query_vec(rows: list, query_vec_id: int, vec: str):
    """The vector of the one collected row whose vec_id is ``query_vec_id``,
    as numpy float64; ValueError if the id is missing or repeated."""
    if len(rows) != 1:
        raise ValueError(
            f"query_vec_id {query_vec_id!r} matches {len(rows)} rows, not 1"
        )
    return np.array([float(x) for x in rows[0][vec]], dtype=np.float64)


def _topk(
    df: DataFrame, query_vec_id: int, qv, k: int, vec: str, keep=None
) -> DataFrame:
    """(vec_id, cosine) of the k rows (query row excluded) with the highest
    cosine to ``qv``, ties on vec_id ascending. One narrow numpy pass drops
    the rows ``keep(X)`` rejects and scores the rest; orderBy+limit runs
    as TakeOrdered (per-partition top-k merged on the driver)."""
    id_t = df.schema["vec_id"].dataType.simpleString()

    def score(pdf):
        X, ids = _vectors(pdf[vec]), pdf["vec_id"].to_numpy()
        if keep is not None:
            m = keep(X)
            X, ids = X[m], ids[m]
        return pd.DataFrame({"vec_id": ids, "cosine": _cosine(X, qv)})

    corpus = df.filter(F.col("vec_id") != query_vec_id).select("vec_id", vec)
    return (
        _map(corpus, score, f"vec_id {id_t}, cosine double")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_topk(
    df: DataFrame, query_vec_id: int, k: int = 10, vec: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector (self excluded).
    The query vector is collected once (pushed-filter scan)."""
    qv = _query_vec(
        df.filter(F.col("vec_id") == query_vec_id).select(vec).collect(),
        query_vec_id, vec,
    )
    return _topk(df, query_vec_id, qv, k, vec)


def lsh_band_keys(
    df: DataFrame,
    planes: int,
    bands: int,
    dim: int = 64,
    vec: str = "embedding",
    out: str = "_keys",
) -> DataFrame:
    """df + ``out``: array<bigint> of `bands` band keys, key b = the r =
    planes/bands sign bits of that band's planes, first plane as the most
    significant bit. The weights are driver-side numpy values shipped with
    the function, not plan literals, so analysis cost does not grow with
    planes x dim. The DuckDB oracle packs a band's bits differently; the
    candidate sets agree because packing is bijective.

    Sizing r: random-pair band collision is ~2^-r, so candidate volume is
    ~bands * n^2 / 2^r — pick r >= log2(n) for near-dup dedup (the
    near-identical regime, cos >= 0.97, keeps per-band recall p^r high
    because p = 1 - theta/pi is close to 1)."""
    r = planes // bands
    W = _planes(planes, dim)
    pw2 = 1 << np.arange(r - 1, -1, -1)

    def keys(pdf):
        bits = _sign_bits(_vectors(pdf[vec]), W)[:, : bands * r]
        pdf[out] = list(bits.reshape(len(pdf), bands, r) @ pw2)
        return pdf

    return _map(df, keys, _schema(df, f"{out} array<bigint>"))


def ann_lsh_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    planes: int = 6,
    probe_hamming: int = 1,
    vec: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN: candidates = vectors whose LSH bucket (bit p = sign of plane
    p, weight 2^p) is within `probe_hamming` bit flips of the query's
    (multi-probe), re-ranked by exact cosine. The query's bucket and its
    flips are driver arithmetic on the collected query vector.

    Size `planes` ~ log2(corpus / target bucket size): buckets shrink 2x
    per plane, so at 10^12 vectors ~26 planes keeps candidate sets small
    while 6 suits the 500-vector fixture (64 buckets, ~8 each)."""
    W = _planes(planes, dim)
    pw = 1 << np.arange(planes)
    qv = _query_vec(
        df.filter(F.col("vec_id") == query_vec_id).select(vec).collect(),
        query_vec_id, vec,
    )
    qsig = int(_sign_bits(qv[None, :], W)[0] @ pw)
    probes = [qsig]
    if probe_hamming >= 1:
        probes += [qsig ^ (1 << i) for i in range(planes)]
    return _topk(
        df, query_vec_id, qv, k, vec,
        keep=lambda X: np.isin(_sign_bits(X, W) @ pw, probes),
    )


def _local_frame(spark, data):
    """Tiny (cid, vec) driver-local frame via the pandas/Arrow conversion
    path — createDataFrame on a plain tuple list takes the pickled
    python-RDD route, which costs seconds of fixed python-worker wall per
    downstream job on this host (measured in checkpoint.append_lineage;
    same mechanism here on every IVF query)."""
    pdf = pd.DataFrame(
        {"_cid": [c for c, _ in data], "_cvec": [v for _, v in data]}
    )
    return spark.createDataFrame(pdf, "_cid int, _cvec array<float>")


def _sample(df: DataFrame, n_lists: int, vec: str) -> DataFrame:
    """(_k, vec_id, _v) of the n_lists rows with the smallest (md5(vec_id),
    vec_id): the IVF centroid sample. orderBy().limit(n) executes as
    TakeOrdered, never a global sort or a single-partition window."""
    return (
        df.select(
            F.md5(F.col("vec_id").cast("string")).alias("_k"),
            "vec_id",
            F.col(vec).alias("_v"),
        )
        .orderBy("_k", "vec_id")
        .limit(n_lists)
    )


def _sample_vectors(rows: list) -> list[list[float]]:
    """Collected _sample rows in (md5, vec_id) order: centroid i+1 is row i."""
    rows = sorted(rows, key=lambda r: (r["_k"], r["vec_id"]))
    return [[float(x) for x in r["_v"]] for r in rows]


def _centroids(cents: DataFrame):
    """A (_cid, _cvec) frame as (cids ascending, float64 matrix)."""
    rows = sorted((r["_cid"], r["_cvec"]) for r in cents.collect())
    cids = np.array([c for c, _ in rows], dtype=np.int32)
    return cids, np.array([v for _, v in rows], dtype=np.float64)


def ivf_centroids(
    df: DataFrame, n_lists: int = 16, vec: str = "embedding"
) -> DataFrame:
    """Deterministic hash-sampled centroids: the n_lists corpus rows with
    the smallest md5(vec_id) (no RNG, no k-means iterations — at 100 TB a
    single assignment pass over sampled anchors captures most of the
    clustering benefit, and determinism keeps builds resumable).

    List-skew tradeoff (measured, BENCH/ivf_recall.py skew table):
    hash-sampled anchors give imbalance max/mean ~2.8 on clustered data;
    worst-case probe cost follows the LARGEST probed list, so a
    latency-sensitive build should follow with ONE ivf_refine step —
    measured to cut imbalance to ~1.6 and lift 1-probe recall@10
    0.89 -> 0.955; further steps plateau.

    The tiny result (n_lists rows) is collected and re-emitted as a local
    DataFrame so the index build and the probe ranking share ONE centroid
    set; ivf_topk draws the same set from the same `_sample`."""
    vecs = _sample_vectors(_sample(df, n_lists, vec).collect())
    return _local_frame(df.sparkSession, list(enumerate(vecs, 1)))


def ivf_index(
    df: DataFrame,
    n_lists: int = 16,
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) assignment against hash-sampled centroids (see
    ivf_centroids). Returns the corpus + `_list` (nearest-centroid id,
    ties to the smaller id). The centroids are driver-resident, so
    assignment is a narrow `_nearest` pass: no corpus shuffle, no row
    blow-up."""
    if cents is None:
        cents = ivf_centroids(df, n_lists, vec)
    cids, C = _centroids(cents)

    def assign(pdf):
        pdf["_list"] = cids[_nearest(_vectors(pdf[vec]), C)[0]]
        return pdf

    return _map(df, assign, _schema(df, "_list int"))


def ivf_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    vec: str = "embedding",
) -> DataFrame:
    """IVF search: score only the n_probe lists nearest to the query
    vector, exact cosine inside them. Cost ~ (n_probe/n_lists) of brute
    force; recall controlled by n_probe.

    One collect job fetches the query row and the centroid sample (a
    union of the pushed-filter row and ivf_centroids' `_sample`). Lists
    are ranked by scaled squared distance to the query, ties on the
    smaller id; a row is kept when its `_nearest` list is probed."""
    qb = df.filter(F.col("vec_id") == query_vec_id).select(
        F.lit(None).cast("string").alias("_k"), "vec_id", F.col(vec).alias("_v")
    )
    rows = qb.unionByName(_sample(df, n_lists, vec)).collect()
    qv = _query_vec([r for r in rows if r["_k"] is None], query_vec_id, "_v")
    C = np.array(
        _sample_vectors([r for r in rows if r["_k"] is not None]),
        dtype=np.float64,
    )
    probe = np.zeros(len(C), dtype=bool)
    probe[np.argsort(_isum(C - qv, C - qv), kind="stable")[:n_probe]] = True
    return _topk(
        df, query_vec_id, qv, k, vec, keep=lambda X: probe[_nearest(X, C)[0]]
    )


def _verify_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_id_a, vec_id_b, cosine) of the pairs (vec_id_a, vec_id_b, _va,
    _vb) whose cosine is >= threshold: one narrow numpy pass."""
    id_t = pairs.schema["vec_id_a"].dataType.simpleString()

    def verify(pdf):
        cos = _cosine(_vectors(pdf["_va"]), _vectors(pdf["_vb"]))
        keep = cos >= threshold
        return pdf.loc[keep, ["vec_id_a", "vec_id_b"]].assign(cosine=cos[keep])

    return _map(
        pairs.select("vec_id_a", "vec_id_b", "_va", "_vb"),
        verify,
        f"vec_id_a {id_t}, vec_id_b {id_t}, cosine double",
    )


def _pair_sides(df: DataFrame, vec: str):
    """(vec_id_a, _va) and (vec_id_b, _vb) views of the corpus."""
    return tuple(
        df.select(F.col("vec_id").alias(f"vec_id_{s}"), F.col(vec).alias(f"_v{s}"))
        for s in "ab"
    )


def cosine_dup_pairs(
    df: DataFrame, threshold: float, vec: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_id_a < vec_id_b, cosine >= t) —
    the EXACT all-pairs baseline (oracle-checkable; quadratic, like the
    n-gram Jaccard baseline). The scale path is cosine_dup_pairs_lsh."""
    a, b = _pair_sides(df, vec)
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("vec_id_a") < F.col("vec_id_b")
    )
    return _verify_pairs(pairs, threshold)


def cosine_dup_pairs_lsh(
    df: DataFrame,
    threshold: float,
    planes: int = 12,
    bands: int = 6,
    vec: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Banded sign-LSH near-dup: candidates collide in >=1 band of r =
    planes/bands hyperplane sign bits, then exact-cosine verification runs
    on the CANDIDATE PAIRS ONLY (self-join keyed on (band, band-bits) —
    never the all-pairs plan). Per-pair collision prob is
    1-(1-(1-theta/pi)^r)^b, so r/b tune recall vs candidate volume;
    near-identical embeddings (cos >= 0.9) are caught with near-certainty.
    Recall is the banding curve; values are deterministic (md5-derived
    plane weights) -> full DuckDB oracle. Size r = planes/bands >=
    log2(corpus) at scale (see lsh_band_keys) — the r=2 default suits the
    500-vector fixture only; at 100k vectors r=2 collides ~82% of RANDOM
    pairs (quadratic candidates)."""
    # band rows carry IDS ONLY: the banded self-join + dedup shuffles
    # (band, key, id) rows, never the vectors — payloads re-attach by key
    # join after the candidate set is deduped (the candidate-local pattern,
    # same as dedup.candidate_jaccard). The index is cached + landed so
    # the self-join's two sides don't recompute the projection chain.
    banded = cachereg.cached(
        lsh_band_keys(df.select("vec_id", vec), planes, bands, dim, vec)
        .select("vec_id", F.posexplode("_keys").alias("band", "key")),
        eager=True,
    )
    a = banded.select("band", "key", F.col("vec_id").alias("vec_id_a"))
    b = banded.select("band", "key", F.col("vec_id").alias("vec_id_b"))
    cand_ids = (
        a.join(b, ["band", "key"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
        .distinct()
    )
    # feeds both re-attach joins; don't re-run the self-join
    cand_ids = cachereg.cached(cand_ids, eager=True)
    va, vb = _pair_sides(df, vec)
    return _verify_pairs(cand_ids.join(va, "vec_id_a").join(vb, "vec_id_b"), threshold)


def ivf_refine(
    df: DataFrame, cents: DataFrame, vec: str = "embedding"
) -> DataFrame:
    """One Lloyd (k-means) iteration over the hash-sampled centroids:
    assign every vector to its nearest centroid, then recentre each list on
    the element-wise mean of its members. Deterministic (no RNG), one
    shuffle (posexplode -> groupBy (list, dim)); Lloyd monotonicity
    guarantees total within-list distance never increases, so a fixed
    iteration count is a safe, resumable build step at any scale."""
    assigned = ivf_index(df, vec=vec, cents=cents)
    dims = (
        assigned.select("_list", F.posexplode(F.col(vec)).alias("pos", "x"))
        .groupBy("_list", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    rows = dims.collect()  # n_lists x dim rows — tiny at any corpus size
    by_list: dict[int, dict[int, float]] = {}
    for r in rows:
        by_list.setdefault(r["_list"], {})[r["pos"]] = r["m"]
    data = [
        (cid, [float(v[p]) for p in sorted(v)]) for cid, v in sorted(by_list.items())
    ]
    return _local_frame(df.sparkSession, data)


def ivf_total_distance(df: DataFrame, cents: DataFrame, vec: str = "embedding"):
    """Lloyd objective: the sum over vectors of the scaled squared distance
    to the nearest centroid (the assignment metric), summed exactly as
    decimal(38,0) and divided by SCALE."""
    _, C = _centroids(cents)
    d2 = _map(
        df.select(vec),
        lambda pdf: pd.DataFrame({"_d2": _nearest(_vectors(pdf[vec]), C)[1]}),
        "_d2 long",
    )
    total = d2.agg(F.sum(F.col("_d2").cast("decimal(38,0)"))).collect()[0][0]
    return int(total or 0) / SCALE
