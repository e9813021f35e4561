"""Similarity search over the embeddings table (vec_id, embedding:
array<float>, label).

* brute-force cosine top-k: the exact baseline. Dot products use the
  scaled-int64 sum rule (queries.py) so results are order-independent
  and oracle-exact: term_i = floor(a_i*b_i*1e12 + 0.5) summed as bigint;
  cosine = dot / (sqrt(na)*sqrt(nb)) in double (sqrt is IEEE-exact).
* LSH-bucketed ANN: deterministic random-hyperplane signatures (integer
  plane weights are md5-derived plan-time literals, no RNG state; the
  projection is a scaled-int64 sum), bucket equi-join, exact-cosine
  re-rank inside buckets. The 100 TB path: cost ~ docs x planes +
  bucket-local pairs. Recall is probabilistic but every VALUE is
  deterministic and SQL-reproducible -> full DuckDB oracles.

At cluster scale the query side is a broadcast (one or few vectors);
the corpus side stays partitioned — no shuffle of the big table for
brute force, one shuffle on bucket keys for LSH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from . import cachereg
from .hashing import plane_weights

SCALE = 1_000_000_000_000.0  # 1e12: float32 pairs scaled into int64 safely


def _dot_terms(a, b):
    return F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * SCALE + 0.5).cast("long")
    )


def _sumlong(arr):
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _query_vec(rows: list, query_vec_id: int, vec: str):
    """The one collected row whose vec_id is ``query_vec_id`` and its
    vector as numpy float64; ValueError if the id is missing or repeated."""
    import numpy as np

    if len(rows) != 1:
        raise ValueError(
            f"query_vec_id {query_vec_id!r} matches {len(rows)} rows, not 1"
        )
    return rows[0], np.array([float(x) for x in rows[0][vec]], dtype=np.float64)


def _cosine_scores(df: DataFrame, qv, vec: str) -> DataFrame:
    """(vec_id, cosine) vs the driver-resident query vector — one NARROW
    numpy mapInPandas pass over the corpus (no join, no Exchange).

    The scaled-int64 sum rule (per-term floor(x*y*1e12 + 0.5), terms
    < 2^53 so int64 sums are exact) makes every value bit-equal to the
    Column-expression form this replaces — which ran zip_with/aggregate
    INTERPRETED per element, 3 x dim boxed ops per row, and dominated the
    query's wall at 20k x 64 (guide §4.2: hand whole batches to numpy)."""
    import numpy as np
    import pandas as pd

    id_t = df.schema["vec_id"].dataType.simpleString()
    nb = int(np.floor(qv * qv * SCALE + 0.5).astype(np.int64).sum())

    def go(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            dot = np.floor(X * qv[None, :] * SCALE + 0.5).astype(np.int64).sum(axis=1)
            na = np.floor(X * X * SCALE + 0.5).astype(np.int64).sum(axis=1)
            cos = dot.astype(np.float64) / (
                np.sqrt(na.astype(np.float64)) * np.sqrt(float(nb))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cosine": cos}
            )

    return df.select("vec_id", vec).mapInPandas(
        go, f"vec_id {id_t}, cosine double"
    )


def cosine_topk(
    df: DataFrame, query_vec_id: int, k: int = 10, vec: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector (self excluded).

    The query vector is collected once (pushed-filter scan); scoring is a
    narrow numpy pass (_cosine_scores) and the global top-k executes as
    TakeOrdered (orderBy+limit — per-partition partial top-k merged on
    the driver, never a full sort)."""
    _, qv = _query_vec(
        df.filter(F.col("vec_id") == query_vec_id).select(vec).collect(),
        query_vec_id, vec,
    )
    scored = _cosine_scores(
        df.filter(F.col("vec_id") != query_vec_id), qv, vec
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "cosine")
    )


def lsh_signature(vec, planes: int = 16, dim: int = 64):
    """Sign bits against deterministic pseudo-hyperplanes: plane p has
    md5-derived integer weights in [-1000, 1000] (hashing.plane_weights),
    embedded as plan-time literals pre-scaled by 1e6. The projection is
    the scaled-int64 sum (floor(x * w*1e6 + 0.5) summed as bigint), so
    the bucket bits are shuffle-order independent AND bit-reproducible
    by the DuckDB oracle — no per-row hash calls in the hot path."""
    weights = plane_weights(planes, dim)
    sig = None
    for p in range(planes):
        w_arr = F.array(*[F.lit(float(w) * 1e6) for w in weights[p]])
        proj = _sumlong(
            F.zip_with(
                vec, w_arr,
                lambda x, w: F.floor(x.cast("double") * w + 0.5).cast("long"),
            )
        )
        bit = F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))
        term = bit.cast("long") * (2**p)
        sig = term if sig is None else sig + term
    return sig


def lsh_band_keys(
    df: DataFrame,
    planes: int,
    bands: int,
    dim: int = 64,
    vec: str = "embedding",
    out: str = "_keys",
) -> DataFrame:
    """df + ``out``: array<bigint> of `bands` band keys, key b = the r =
    planes/bands sign bits of that band's hyperplane projections.

    The md5-derived integer weights ride as ONE broadcast runtime value
    (array<array<double>>, pre-scaled 1e6) instead of plan literals:
    literal weights cost O(planes x dim) ANALYSIS time per query (~3 s at
    12x64, minutes at the 128x64 a 100k-corpus needs), while a runtime
    value is one column reference. Projections use the scaled-int64 sum
    rule, so keys are shuffle-order independent and the DuckDB oracle
    reproduces the same r-bit vectors (its key formula may pack bits
    differently — candidate sets agree because packing is bijective).

    Sizing r: random-pair band collision is ~2^-r, so candidate volume is
    ~bands * n^2 / 2^r — pick r >= log2(n) for near-dup dedup (the
    near-identical regime, cos >= 0.97, keeps per-band recall p^r high
    because p = 1 - theta/pi is close to 1).

    Implementation is a narrow numpy mapInPandas: Spark's higher-order
    functions (transform/aggregate/zip_with) run INTERPRETED per element
    — at 100k x 128 planes x 64 dims that is ~10^9 boxed ops (~250 s);
    the numpy batch form computes the identical IEEE doubles (floor(x*w
    + 0.5) per term, exact f64 integer sums < 2^53) in ~2 s. Values are
    bit-equal to the expression form, so the DuckDB oracle is unchanged."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batches)

    r = planes // bands
    W = np.array(plane_weights(planes, dim), dtype=np.float64) * 1e6
    pw2 = (1 << np.arange(r - 1, -1, -1)).astype(np.int64)  # MSB-first fold
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"{c} {by_name[c]}" for c in df.columns)
        + f", {out} array<bigint>"
    )

    def go(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            n = len(X)
            bits = np.empty((n, planes), dtype=np.int64)
            block = max(1, (1 << 22) // (planes * dim))  # ~32 MB f64 temp
            for s in range(0, n, block):
                e = min(s + block, n)
                t = np.floor(X[s:e, None, :] * W[None, :, :] + 0.5)
                # per-term floored values < 2^30, 64-dim sums < 2^53:
                # the f64 sum is EXACT and order-free
                bits[s:e] = t.sum(axis=2) >= 0
            keys = np.concatenate(
                [bits[:, b * r : (b + 1) * r] @ pw2 for b in range(bands)]
            ).reshape(bands, n).T
            pdf = pdf.copy()
            pdf[out] = list(keys)
            yield pdf

    return df.mapInPandas(go, out_schema)


def ann_lsh_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    planes: int = 6,
    probe_hamming: int = 1,
    vec: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN: candidates = vectors whose LSH bucket is within `probe_hamming`
    bit flips of the query's bucket (multi-probe), re-ranked by exact
    cosine. Bucket assignment is one narrow pass over the corpus.

    Size `planes` ~ log2(corpus / target bucket size): buckets shrink 2x
    per plane, so at 10^12 vectors ~26 planes keeps candidate sets small
    while 6 suits the 500-vector fixture (64 buckets, ~8 each)."""
    sig = lsh_signature(F.col(vec), planes, dim)
    corpus = df.withColumn("_sig", sig)
    # query vector + signature in one pushed-filter collect; the probe
    # bucket list (query signature and its 1-bit flips) is then plain
    # driver arithmetic instead of an explode + broadcast join — and the
    # candidate re-rank is the shared numpy kernel (_cosine_scores, bit-
    # equal to the interpreted zip_with/aggregate fold it replaces, which
    # ran n_cands x 3 x dim boxed ops; guide §4.2)
    qrow, qv = _query_vec(
        corpus.filter(F.col("vec_id") == query_vec_id).select(vec, "_sig").collect(),
        query_vec_id, vec,
    )
    qsig = int(qrow["_sig"])
    probes = [qsig]
    if probe_hamming >= 1:
        probes += [qsig ^ (1 << i) for i in range(planes)]
    cands = corpus.filter(F.col("vec_id") != query_vec_id).filter(
        F.col("_sig").isin(probes)
    )
    return (
        _cosine_scores(cands, qv, vec)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _local_frame(spark, data):
    """Tiny (cid, vec) driver-local frame via the pandas/Arrow conversion
    path — createDataFrame on a plain tuple list takes the pickled
    python-RDD route, which costs seconds of fixed python-worker wall per
    downstream job on this host (measured in checkpoint.append_lineage;
    same mechanism here on every IVF query)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"_cid": [c for c, _ in data], "_cvec": [v for _, v in data]}
    )
    return spark.createDataFrame(pdf, "_cid int, _cvec array<float>")


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

    orderBy().limit(n) executes as TakeOrderedAndProject — a per-partition
    partial top-k merged on the driver — NEVER a global sort or a
    single-partition window, so this scales with the corpus. The tiny
    result (n_lists rows) is collected and re-emitted as a local DataFrame
    so the index build and the probe ranking share ONE centroid set."""
    data = _centroid_rows(df, n_lists, vec)
    return _local_frame(df.sparkSession, data)


def _centroid_rows(
    df: DataFrame, n_lists: int, vec: str
) -> list[tuple[int, list[float]]]:
    """ivf_centroids' (cid, vector) rows as driver-resident Python data
    (one TakeOrdered job; no local-DataFrame round trip for callers that
    only need the values)."""
    rows = (
        df.select(F.col("vec_id"), F.col(vec))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_lists)
        .collect()
    )
    return [(i + 1, [float(x) for x in r[vec]]) for i, r in enumerate(rows)]


def _assign_arrays(cdata: list[tuple[int, list[float]]]):
    """Centroids as (cids ascending, matrix) numpy pair for batch argmin."""
    import numpy as np

    order = sorted(range(len(cdata)), key=lambda i: cdata[i][0])
    cids = np.array([cdata[i][0] for i in order], dtype=np.int32)
    C = np.array([cdata[i][1] for i in order], dtype=np.float64)
    return cids, C


def _d2_batch(X, C_row):
    """Scaled-int64 squared distances of batch X to one centroid row —
    per-element floor((a-b)^2 * 1e12 + 0.5) summed as int64. (a-b) and its
    square are single IEEE ops, so the int64 sum is order independent and
    equals the DuckDB oracle's, and centroid argmins agree, ties included."""
    import numpy as np

    d = X - C_row[None, :]
    return np.floor(d * d * SCALE + 0.5).astype(np.int64).sum(axis=1)


def ivf_index(
    df: DataFrame,
    n_lists: int = 16,
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) assignment against hash-sampled centroids (see
    ivf_centroids). Returns the corpus + `_list` (nearest-centroid id).

    The centroid set is tiny (n_lists rows) and already driver-resident,
    so assignment is a NARROW numpy batch argmin in mapInPandas — no
    corpus shuffle (plan test pins zero Exchange), no row blow-up. The
    earlier Column form (array_min over transform/zip_with of a broadcast
    centroid array) computed the same values but ran INTERPRETED per
    element — n_lists x dim boxed ops per row dominated the query's wall
    (guide §4.2). d2 stays the scaled-int64 metric and ties break on
    (d2, cid) exactly as array_min over struct(d2, cid) did, so
    assignments (and the DuckDB oracle) are unchanged."""
    if cents is None:
        cents = ivf_centroids(df, n_lists, vec)
    cdata = [(r["_cid"], [float(x) for x in r["_cvec"]]) for r in cents.collect()]
    return _ivf_assign(df, cdata, vec)


def _ivf_assign(
    df: DataFrame, cdata: list[tuple[int, list[float]]], vec: str
) -> DataFrame:
    import numpy as np
    import pandas as pd  # noqa: F401

    cids, C = _assign_arrays(cdata)
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        + ", _list int"
    )

    def go(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            best_d = _d2_batch(X, C[0])
            best_i = np.zeros(len(X), dtype=np.int64)
            for li in range(1, len(cids)):
                t = _d2_batch(X, C[li])
                m = t < best_d  # strict: ties keep the smaller cid
                best_d = np.where(m, t, best_d)
                best_i = np.where(m, li, best_i)
            pdf = pdf.copy()
            pdf["_list"] = cids[best_i]
            yield pdf

    return df.mapInPandas(go, out_schema)


def _ivf_probe_scores(
    df: DataFrame,
    cdata: list[tuple[int, list[float]]],
    probe_lists: list[int],
    qv,
    vec: str,
) -> DataFrame:
    """Fused assign -> probe-filter -> exact-cosine: ONE narrow numpy
    mapInPandas pass returning (vec_id, cosine) only. The previous chain
    (_ivf_assign -> JVM isin filter -> _cosine_scores) crossed the
    64-float embedding column over the Arrow pipe TWO extra times —
    assign's output shipped it back to the JVM just so the next
    mapInPandas could ship it to Python again (measured ~0.3 s of the
    query's wall at 20k x 64; guide §4.3 "pass only the columns the
    function needs" applies to outputs too). Assignment (strict < argmin,
    ties keep the smaller cid), probe membership, and the scaled-int64
    cosine are the exact per-row IEEE/int ops of _ivf_assign +
    _cosine_scores, so the kept rows and every value are bit-equal."""
    import numpy as np
    import pandas as pd

    cids, C = _assign_arrays(cdata)
    probe = np.zeros(int(cids.max()) + 1, dtype=bool)
    for cid in probe_lists:
        probe[cid] = True
    id_t = df.schema["vec_id"].dataType.simpleString()
    nb = int(np.floor(qv * qv * SCALE + 0.5).astype(np.int64).sum())

    def go(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            best_d = _d2_batch(X, C[0])
            best_i = np.zeros(len(X), dtype=np.int64)
            for li in range(1, len(cids)):
                t = _d2_batch(X, C[li])
                m = t < best_d  # strict: ties keep the smaller cid
                best_d = np.where(m, t, best_d)
                best_i = np.where(m, li, best_i)
            keep = probe[cids[best_i]]
            if not keep.any():
                continue
            Xk = X[keep]
            dot = np.floor(Xk * qv[None, :] * SCALE + 0.5).astype(
                np.int64
            ).sum(axis=1)
            na = np.floor(Xk * Xk * SCALE + 0.5).astype(np.int64).sum(axis=1)
            cos = dot.astype(np.float64) / (
                np.sqrt(na.astype(np.float64)) * np.sqrt(float(nb))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy()[keep], "cosine": cos}
            )

    return df.select("vec_id", vec).mapInPandas(
        go, f"vec_id {id_t}, cosine double"
    )


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
    force; recall controlled by n_probe."""
    import numpy as np

    # ONE collect job fetches the centroid sample AND the query vector
    # (union of the pushed-filter row with the TakeOrdered branch; each
    # was its own ~0.2 s job round trip). Centroid ids are re-derived by
    # the same (md5, vec_id) sort DRIVER-side, so ids/values are
    # identical to ivf_centroids' and the oracle is unchanged.
    md5k = F.md5(F.col("vec_id").cast("string"))
    qb = df.filter(F.col("vec_id") == query_vec_id).select(
        F.lit(None).cast("string").alias("_k"), "vec_id", F.col(vec).alias("_v")
    )
    cb = (
        df.select(md5k.alias("_k"), "vec_id", F.col(vec).alias("_v"))
        .orderBy("_k", "vec_id")
        .limit(n_lists)
    )
    rows = qb.unionByName(cb).collect()
    _, qv = _query_vec([r for r in rows if r["_k"] is None], query_vec_id, "_v")
    cent = sorted(
        ((r["_k"], r["vec_id"], r["_v"]) for r in rows if r["_k"] is not None)
    )
    cdata = [
        (i + 1, [float(x) for x in v]) for i, (_, _, v) in enumerate(cent)
    ]
    # rank the SAME centroid set by distance to the query in the
    # scaled-int64 metric, ties on (_d2, _cid) — DRIVER-side now (n_lists
    # values; the previous crossJoin+TakeOrdered job scanned the corpus
    # just to rebuild these 16 rows), so probe choice still matches the
    # oracle exactly
    ranked = sorted(
        (int(_d2_batch(qv[None, :], np.array(v, np.float64))[0]), cid)
        for cid, v in cdata
    )
    probe_lists = [cid for _, cid in ranked[:n_probe]]
    # one narrow pass: assign each row to its list, keep only probed
    # lists, exact cosine — assignment, probe filter and scoring fused in
    # a SINGLE mapInPandas so the embedding column crosses the Arrow pipe
    # once (the assign -> JVM filter -> score chain shipped it back and
    # forth twice more; see _ivf_probe_scores)
    scored = _ivf_probe_scores(
        df.filter(F.col("vec_id") != query_vec_id), cdata, probe_lists, qv, vec
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_dup_pairs(
    df: DataFrame, threshold: float, vec: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_id_a < vec_id_b, cosine >= t) —
    the EXACT all-pairs baseline (oracle-checkable; quadratic, like the
    n-gram Jaccard baseline). The scale path is cosine_dup_pairs_lsh.

    Dots use the scaled-int64 sum rule so the result is shuffle-order
    independent and bit-exact vs the SQL oracle."""
    a = df.select(F.col("vec_id").alias("vec_id_a"), F.col(vec).alias("_va"))
    b = df.select(F.col("vec_id").alias("vec_id_b"), F.col(vec).alias("_vb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("vec_id_a") < F.col("vec_id_b")
    )
    dot = _sumlong(_dot_terms(F.col("_va"), F.col("_vb")))
    na = _sumlong(_dot_terms(F.col("_va"), F.col("_va")))
    nb = _sumlong(_dot_terms(F.col("_vb"), F.col("_vb")))
    cos = dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )
    return (
        pairs.select("vec_id_a", "vec_id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


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
    literal weights) -> full DuckDB oracle. Size r = planes/bands >=
    log2(corpus) at scale (see lsh_band_keys) — the r=2 default suits the
    500-vector fixture only; at 100k vectors r=2 collides ~82% of RANDOM
    pairs (quadratic candidates)."""
    r = planes // bands
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
    va = df.select(F.col("vec_id").alias("vec_id_a"), F.col(vec).alias("_va"))
    vb = df.select(F.col("vec_id").alias("vec_id_b"), F.col(vec).alias("_vb"))
    cands = cand_ids.join(va, "vec_id_a").join(vb, "vec_id_b")

    # exact-cosine verify in numpy (the scaled-int64 rule: per-term
    # floor(x*y*1e12 + 0.5), terms < 2^53 so f64 sums are exact — values
    # bit-equal to the Column-expression form, which runs interpreted per
    # element and dominated wall at >10^5 candidates)
    import numpy as np

    def _verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            dot = np.floor(a * b * SCALE + 0.5).sum(axis=1)
            na = np.floor(a * a * SCALE + 0.5).sum(axis=1)
            nb = np.floor(b * b * SCALE + 0.5).sum(axis=1)
            cos = dot / (np.sqrt(na) * np.sqrt(nb))
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "vec_id_a": pdf["vec_id_a"].to_numpy()[keep],
                    "vec_id_b": pdf["vec_id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    import pandas as pd

    return cands.mapInPandas(
        _verify, "vec_id_a long, vec_id_b long, cosine double"
    )


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
    """Sum of squared distance to the assigned centroid (Lloyd objective)."""
    joined = df.crossJoin(F.broadcast(cents))
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec), F.col("_cvec"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = joined.groupBy("vec_id").agg(F.min(d2).alias("_d"))
    return per_vec.agg(F.sum("_d")).collect()[0][0]
