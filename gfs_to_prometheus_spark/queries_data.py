"""queries() entries for the training-data-pipeline operators (dedup,
similarity, text analysis) — imported by queries.py so they land in the
same registry. Cross-engine rules are the same as queries.py; hashes are
md5-based so DuckDB reproduces them bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators import dedup, multimodal, similarity, text
from .operators.hashing import MERSENNE31, minhash_coeffs, plane_weights
from .queries import load, query

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{s}'" for s in text.STOPWORDS)


@query(
    "token_counts",
    f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+'))         AS n_ws_tokens,
       len(regexp_extract_all(text, '{text.BPE_ISH}'))         AS n_bpe_tokens
FROM documents
""",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load(spark, sf_dir, "documents"))


@query(
    "quality_scores",
    f"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\\s+') AS w,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
    FROM documents
), f AS (
    SELECT doc_id,
           CAST(len(w) AS DOUBLE) AS n_ws,
           punct / n_chars        AS punct_ratio,
           CAST(len(list_filter(w, x -> lower(x) IN ({_STOP_SQL}))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS stop_ratio,
           CAST(length(array_to_string(w, '')) AS DOUBLE) / CAST(len(w) AS DOUBLE)
               AS mean_tok_len
    FROM t
)
SELECT doc_id, n_ws, punct_ratio, stop_ratio, mean_tok_len,
       stop_ratio * 0.4
       + (CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + punct_ratio * 10.0)) * 0.4
       + least(n_ws / 100.0, CAST(1.0 AS DOUBLE)) * 0.2 AS quality
FROM f
""",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_scores(load(spark, sf_dir, "documents"))


def _lang_sql() -> str:
    langs = sorted(text.LANG_MARKERS)
    score_cols = ",\n           ".join(
        "len(list_filter(w, x -> x IN ({m}))) AS s_{lang}".format(
            m=", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    whens = []
    for lang in langs:
        conds = []
        for other in langs:
            if other == lang:
                continue
            op = ">=" if other > lang else ">"
            conds.append(f"s_{lang} {op} s_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{langs[0]}' END"
    sel = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
    FROM documents
), s AS (
    SELECT doc_id,
           {score_cols}
    FROM t
)
SELECT doc_id, {sel}, {case} AS pred_lang FROM s
"""


@query("lang_id", _lang_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_scores(load(spark, sf_dir, "documents"))


@query(
    "doc_fingerprints",
    """
WITH toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id, min(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS fingerprint
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    GROUP BY doc_id
)
SELECT doc_id, fingerprint FROM sh
UNION ALL
SELECT doc_id, md5(trim(text)) AS fingerprint FROM toks WHERE len(w) < 3
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keeper
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dups(load(spark, sf_dir, "documents"))


_JACCARD_SQL = """
WITH toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    UNION
    SELECT DISTINCT doc_id, trim(text) AS shingle FROM toks WHERE len(w) < 3
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.n_sh AS na, sb.n_sh AS nb,
       CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= {t}
"""


@query("ngram_jaccard_pairs", _JACCARD_SQL.format(t=0.05))
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs at t=0.05 (the synthetic
    word-soup corpus has no true dups; the low threshold exercises the
    full join+verify machinery with a non-empty result)."""
    return dedup.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.05)


_JACCARD_CAPPED_SQL = """
WITH toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
), sh0 AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    UNION
    SELECT DISTINCT doc_id, trim(text) AS shingle FROM toks WHERE len(w) < 3
), dfreq AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= {cap}
), sh AS (
    SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfreq USING (shingle)
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.n_sh AS na, sb.n_sh AS nb,
       CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= {t}
"""


@query("ngram_jaccard_capped", _JACCARD_CAPPED_SQL.format(t=0.05, cap=4))
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped variant: shingles with document frequency > 4 are dropped
    before the self-join (the skew/fan-out guard for 100 TB — each hot
    shingle costs O(df^2) join rows and carries no dedup signal)."""
    return dedup.jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.05, max_df=4
    )


_COMPONENTS_SQL = """
WITH RECURSIVE toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    UNION
    SELECT DISTINCT doc_id, trim(text) AS shingle FROM toks WHERE len(w) < 3
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), jp AS (
    SELECT doc_a, doc_b
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE)
          >= 0.05
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM jp
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM jp
), reach(doc, lab) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id, min(lab) AS component FROM reach GROUP BY 1
"""


@query("dedup_components", _COMPONENTS_SQL)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the jaccard>=0.05 pair
    graph (keeper = the doc whose id equals its component). Spark side is
    iterative min-label propagation; the oracle a recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.05)
    return dedup.components(pairs)


_SURVIVORS_SQL = """
WITH RECURSIVE keep1 AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents
    ) WHERE doc_id = keeper
), toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM keep1
), sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    UNION
    SELECT DISTINCT doc_id, trim(text) AS shingle FROM toks WHERE len(w) < 3
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), jp AS (
    SELECT doc_a, doc_b FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE)
          >= 0.5
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM jp
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM jp
), reach(doc, lab) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
), comp AS (
    SELECT doc AS doc_id, min(lab) AS component FROM reach GROUP BY 1
)
SELECT k.doc_id FROM keep1 k
LEFT JOIN comp c ON c.doc_id = k.doc_id
WHERE c.component IS NULL OR c.component = k.doc_id
"""


@query("dedup_survivors", _SURVIVORS_SQL)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: exact dedup (keep min doc per md5 group),
    then near-dup clustering at jaccard>=0.5 over the survivors, keeping
    one representative per component — the document set a training run
    would actually consume."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    keepers = dedup.exact_dups(docs)
    d1 = (
        docs.withColumn("_md5", F.md5("text"))
        .join(keepers, F.col("_md5") == F.col("text_md5"))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text")
        .localCheckpoint(eager=False)  # two consumers: pairs + final join
    )
    comp = dedup.components(dedup.jaccard_pairs(d1, threshold=0.5))
    return (
        d1.join(comp, "doc_id", "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )


def _minhash_lsh_sql(k: int = 32, bands: int = 8, t: float = 0.05) -> str:
    """Full DuckDB twin of minhash_lsh_candidates: md5-derived universal
    permutations over the 31-bit shingle hash, min per permutation, band
    collision = all r positions equal (GROUP BY band HAVING count = r),
    exact-Jaccard verification on the candidate set."""
    r = k // bands
    coef_rows = ", ".join(
        f"({p}, {a}, {b})" for p, (a, b) in enumerate(minhash_coeffs(k))
    )
    return f"""
WITH toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    UNION
    SELECT DISTINCT doc_id, trim(text) AS shingle FROM toks WHERE len(w) < 3
), hm AS (
    SELECT doc_id, shingle,
           CAST(md5_number_lower(shingle) AS HUGEINT) % 2147483648 AS h31
    FROM sh
), sig AS (
    SELECT doc_id, p,
           min(CAST((a * h31 + b) % {MERSENNE31} AS BIGINT)) AS mh
    FROM hm CROSS JOIN (VALUES {coef_rows}) coef(p, a, b)
    GROUP BY doc_id, p
), band_hits AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.p = b.p AND a.mh = b.mh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.p // {r}
    HAVING count(*) = {r}
), cands AS (
    SELECT DISTINCT doc_a, doc_b FROM band_hits
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), common AS (
    SELECT c.doc_a, c.doc_b, count(*) AS common
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common AS DOUBLE)
           AS jaccard
FROM common c
JOIN sizes na ON na.doc_id = c.doc_a
JOIN sizes nb ON nb.doc_id = c.doc_b
WHERE CAST(common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common AS DOUBLE) >= {t}
"""


@query("minhash_lsh_dups", _minhash_lsh_sql())
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidates verified to exact jaccard>=0.05.
    Recall follows the banding curve, but every VALUE is deterministic
    (md5-derived literal coefficients), so the DuckDB oracle reproduces
    the result bit-for-bit."""
    return dedup.minhash_lsh_candidates(
        load(spark, sf_dir, "documents"), k=32, bands=8, threshold=0.05
    )


@query(
    "simhash60",
    f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, md5_number_lower(tok) AS h FROM toks
)
SELECT doc_id,
       ({' + '.join(f"CASE WHEN sum(CAST((h >> {b}) & 1 AS BIGINT) * 2 - 1) > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END" for b in range(60))})
       AS simhash
FROM hashed GROUP BY doc_id
""",
)
def simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load(spark, sf_dir, "documents"))


_SIMHASH_CTE = f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, md5_number_lower(tok) AS h FROM toks
), sh AS (
    SELECT doc_id,
           ({' + '.join(f"CASE WHEN sum(CAST((h >> {b}) & 1 AS BIGINT) * 2 - 1) > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END" for b in range(60))})
           AS simhash
    FROM hashed GROUP BY doc_id
)
"""


@query(
    "simhash_dup_pairs",
    _SIMHASH_CTE
    + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball pairs (<=3 bit diffs) via the pigeonhole band
    join — EXACT and complete, so the quadratic SQL oracle must agree."""
    from pyspark.sql import functions as F

    out = dedup.simhash_dup_pairs(load(spark, sf_dir, "documents"), max_hamming=3)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DOT = (
    "CAST(list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> CAST(floor(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)"
    "*1000000000000.0 + 0.5) AS BIGINT)), 'sum') AS DOUBLE)"
)

_COSINE_SQL = """
WITH q AS (
    SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
    SELECT e.vec_id,
           CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qv),
                p -> CAST(floor(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)*1000000000000.0 + 0.5) AS BIGINT)), 'sum') AS DOUBLE)
           / ( sqrt(CAST(list_aggregate(list_transform(list_zip(e.embedding, e.embedding),
                p -> CAST(floor(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)*1000000000000.0 + 0.5) AS BIGINT)), 'sum') AS DOUBLE))
             * sqrt(CAST(list_aggregate(list_transform(list_zip(q.qv, q.qv),
                p -> CAST(floor(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)*1000000000000.0 + 0.5) AS BIGINT)), 'sum') AS DOUBLE)) )
           AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> 0
)
SELECT vec_id, cosine FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


@query("cosine_topk", _COSINE_SQL)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(load(spark, sf_dir, "embeddings"), query_vec_id=0)


def _lsh_sig_sql(planes: int, dim: int = 64, col: str = "embedding") -> str:
    """DuckDB twin of similarity._sign_bits packed as ann_lsh_topk's bucket
    (bit p weighs 2^p): per plane, the scaled-int64 projection against the
    md5-derived literal weights (pre-scaled 1e6), bit = projection >= 0."""
    weights = plane_weights(planes, dim)
    terms = []
    for p in range(planes):
        wlist = "[" + ", ".join(f"{w * 1e6:.1f}" for w in weights[p]) + "]"
        terms.append(
            "CASE WHEN CAST(list_aggregate(list_transform(list_zip("
            f"{col}, {wlist}), "
            "x -> CAST(floor(CAST(x[1] AS DOUBLE) * x[2] + 0.5) AS BIGINT)), "
            f"'sum') AS BIGINT) >= 0 THEN CAST({1 << p} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


def _ann_lsh_sql(planes: int = 6, k: int = 10) -> str:
    probes = ", ".join(
        ["qsig"] + [f"xor(qsig, {1 << i})" for i in range(planes)]
    )
    return f"""
WITH sig AS (
    SELECT vec_id, embedding, ({_lsh_sig_sql(planes)}) AS sig
    FROM embeddings
), q AS (
    SELECT embedding AS qv, sig AS qsig FROM sig WHERE vec_id = 0
), probes AS (
    SELECT DISTINCT unnest([{probes}]) AS psig FROM q
), cand AS (
    SELECT s.vec_id, s.embedding
    FROM sig s JOIN probes p ON s.sig = p.psig
    WHERE s.vec_id <> 0
)
SELECT vec_id,
       {_DOT.format(a='cand.embedding', b='q.qv')}
       / ( sqrt({_DOT.format(a='cand.embedding', b='cand.embedding')})
         * sqrt({_DOT.format(a='q.qv', b='q.qv')}) ) AS cosine
FROM cand, q
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


@query("ann_lsh_topk", _ann_lsh_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH buckets + multi-probe + exact re-rank.
    Bucket bits are md5-derived literals + scaled-int64 projections, so
    the DuckDB oracle reproduces candidates AND ranking exactly."""
    return similarity.ann_lsh_topk(
        load(spark, sf_dir, "embeddings"), query_vec_id=0
    )


_COSINE_DUPS_SQL = f"""
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       {_DOT.format(a='a.embedding', b='b.embedding')}
       / ( sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
         * sqrt({_DOT.format(a='b.embedding', b='b.embedding')}) ) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
      / ( sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
        * sqrt({_DOT.format(a='b.embedding', b='b.embedding')}) )
      >= CAST(0.4 AS DOUBLE)
"""


@query("embedding_dup_pairs", _COSINE_DUPS_SQL)
def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at t=0.4 — the exact all-pairs
    baseline (oracle-checked); cosine uses the scaled-int64 dot rule so
    both engines agree bit-for-bit."""
    return similarity.cosine_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _embedding_lsh_sql(
    planes: int = 12, bands: int = 6, t: float = 0.4
) -> str:
    r = planes // bands
    return f"""
WITH sig AS (
    SELECT vec_id, ({_lsh_sig_sql(planes)}) AS sig FROM embeddings
), banded AS (
    SELECT vec_id, band, (sig >> (band * {r})) & {(1 << r) - 1} AS key
    FROM sig, (SELECT unnest(generate_series(0, {bands - 1})) AS band) b
), cand AS (
    SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.key = b.key
                 AND a.vec_id < b.vec_id
)
SELECT vec_id_a, vec_id_b, cosine FROM (
    SELECT c.vec_id_a, c.vec_id_b,
           {_DOT.format(a='ea.embedding', b='eb.embedding')}
           / ( sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')})
             * sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')}) )
               AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_id_a
    JOIN embeddings eb ON eb.vec_id = c.vec_id_b
) WHERE cosine >= CAST({t} AS DOUBLE)
"""


@query("embedding_dup_pairs_lsh", _embedding_lsh_sql())
def embedding_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH near-dup (6 bands x 2 planes at this threshold),
    exact-cosine verification on candidate pairs only. Recall is the
    banding curve, but buckets are md5-derived literals -> the DuckDB
    oracle reproduces the exact pair set and cosines."""
    return similarity.cosine_dup_pairs_lsh(
        load(spark, sf_dir, "embeddings"), threshold=0.4
    )


# ---------------------------------------------------------------------------
# Deterministic sampling (training-data selection)
# ---------------------------------------------------------------------------


@query(
    "hash_sample_docs",
    """
SELECT doc_id, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
""",
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 hash sample — reproducible data selection
    (never rand(): resumable jobs and both engines must agree)."""
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    ).select("doc_id", "n_chars")


@query(
    "stratified_sample_docs",
    """
SELECT source, doc_id FROM (
    SELECT source, doc_id,
           row_number() OVER (
               PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))
           ) AS rn
    FROM documents
) WHERE rn <= 5
""",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-per-group sample ordered by a deterministic hash —
    balanced training subsets across sources."""
    from pyspark.sql import Window as W, functions as F

    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id")
    )


_D2 = (
    "CAST(list_aggregate(list_transform(list_zip({a}, {b}), "
    "x -> CAST(floor((CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    "*1000000000000.0 + 0.5) AS BIGINT)), 'sum') AS BIGINT)"
)


def _ivf_sql(n_lists: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """DuckDB twin of similarity.ivf_topk: hash-sampled centroids (the
    n_lists rows with smallest md5(vec_id)), scaled-int64 squared
    distances, argmin assignment with (d2, cid) tie order, probe the
    n_probe nearest lists, exact cosine inside them."""
    return f"""
WITH cents AS (
    SELECT row_number() OVER (ORDER BY m, vec_id) AS cid, cvec FROM (
        SELECT md5(CAST(vec_id AS VARCHAR)) AS m, vec_id, embedding AS cvec
        FROM embeddings ORDER BY 1, 2 LIMIT {n_lists}
    )
), d AS (
    SELECT e.vec_id, c.cid,
           {_D2.format(a='e.embedding', b='c.cvec')} AS d2
    FROM embeddings e CROSS JOIN cents c
), assign AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d
    ) WHERE rn = 1
), probes AS (
    SELECT cid FROM d WHERE vec_id = 0 ORDER BY d2, cid LIMIT {n_probe}
), cand AS (
    SELECT e.vec_id, e.embedding
    FROM embeddings e
    JOIN assign s ON s.vec_id = e.vec_id
    JOIN probes p ON p.cid = s.cid
    WHERE e.vec_id <> 0
)
SELECT vec_id,
       {_DOT.format(a='cand.embedding', b='q.qv')}
       / ( sqrt({_DOT.format(a='cand.embedding', b='cand.embedding')})
         * sqrt({_DOT.format(a='q.qv', b='q.qv')}) ) AS cosine
FROM cand, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


@query("ivf_ann_topk", _ivf_sql())
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic hash-sampled centroids, probe the 4 nearest
    of 16 lists, exact cosine re-rank inside them (the scale path: cost
    ~n_probe/n_lists of brute force). Assignment and probe choice use the
    scaled-int64 distance metric, so the DuckDB oracle matches exactly."""
    return similarity.ivf_topk(load(spark, sf_dir, "embeddings"), query_vec_id=0)


# ---------------------------------------------------------------------------
# Multimodal decode (real PPM / WAV / y4m round trips; the oracle predicts
# the decoded features analytically from the generative rule, so any
# encoder/decoder offset, endianness, or header bug shows as a mismatch)
# ---------------------------------------------------------------------------

_IMG_SQL = """
WITH g AS (
    SELECT doc_id,
           4 + doc_id % 5 AS width,
           4 + doc_id % 3 AS height
    FROM documents
), px AS (
    SELECT doc_id, width, height,
           CAST(sum((doc_id*131 + p*3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id*131 + p*3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id*131 + p*3 + 2) % 256) AS BIGINT) AS sum_b
    FROM g, LATERAL (SELECT unnest(generate_series(0, width*height - 1)) AS p) s
    GROUP BY 1, 2, 3
)
SELECT doc_id, width, height, sum_r, sum_g, sum_b,
       CAST(sum_r AS DOUBLE) / (width*height) AS mean_r,
       CAST(sum_g AS DOUBLE) / (width*height) AS mean_g,
       CAST(sum_b AS DOUBLE) / (width*height) AS mean_b
FROM px
"""


@query("image_decode_features", _IMG_SQL)
def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real P6 (netpbm) round trip per document: encode deterministic
    pixels -> decode via the pure-numpy PPM parser -> per-channel sums and
    means. Width/height come from the PARSED HEADER; the oracle predicts
    them from the generative rule, so a parse bug cannot hide."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id")
    feats = multimodal.image_features(multimodal.docs_as_images(docs))
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "width", "height", "sum_r", "sum_g", "sum_b",
        "mean_r", "mean_g", "mean_b",
    )


_AUDIO_SQL = """
WITH g AS (
    SELECT doc_id, 64 + doc_id % 64 AS n_samples FROM documents
), amp AS (
    SELECT doc_id, n_samples,
           CAST(sum((doc_id*37 + s*11) % 4096 - 2048) AS BIGINT) AS sum_amp,
           CAST(max(abs((doc_id*37 + s*11) % 4096 - 2048)) AS BIGINT) AS peak
    FROM g, LATERAL (SELECT unnest(generate_series(0, n_samples - 1)) AS s) t
    GROUP BY 1, 2
)
SELECT doc_id, 16000 AS sample_rate, n_samples, sum_amp, peak FROM amp
"""


@query("audio_decode_stats", _AUDIO_SQL)
def audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real RIFF/WAV PCM16 round trip per document: encode a deterministic
    waveform -> chunk-walk decode -> sample count (from the data chunk),
    int64 amplitude sum, peak |amplitude|, parsed sample rate."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id")
    stats = multimodal.audio_stats(multimodal.docs_as_audio(docs))
    return stats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "sample_rate",
        F.col("n_samples").cast("long").alias("n_samples"),
        "sum_amp",
        F.col("peak").cast("long").alias("peak"),
    )


_VIDEO_SQL = """
WITH g AS (
    SELECT doc_id,
           4 + doc_id % 5 AS w,
           4 + doc_id % 3 AS h,
           2 + doc_id % 5 AS nf
    FROM documents
), f AS (
    SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS frame_idx
    FROM g
), kept AS (
    SELECT doc_id, w, h, frame_idx FROM f WHERE frame_idx % 2 = 0
)
SELECT doc_id, frame_idx,
       CAST(sum((doc_id*17 + frame_idx*251 + j) % 256) AS BIGINT)
           AS frame_checksum
FROM kept, LATERAL (SELECT unnest(generate_series(0, w*h*3 - 1)) AS j) s
GROUP BY 1, 2
"""


@query("video_frame_sample", _VIDEO_SQL)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real YUV4MPEG2 round trip per document: encode deterministic frames
    -> y4m decode -> keep every 2nd frame -> int64 byte-sum checksum of the
    DECODED frame (planar->packed transpose and all)."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id")
    out = multimodal.sample_frames(multimodal.docs_as_videos(docs), every_n=2)
    return out.select(
        F.col("media_id").cast("long").alias("doc_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_checksum",
    )


@query(
    "vocab_top50",
    """
WITH toks AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
)
SELECT tok, count(*) AS n FROM toks
GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT 50
""",
)
def vocab_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency (deterministic
    tie-break), explode -> partial-agg count -> TakeOrdered."""
    return text.vocab_topk(load(spark, sf_dir, "documents"), k=50)


_REDACT_PAT = r"\b(a|the|key|value)\b"


@query(
    "redact_stop_tokens",
    f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_REDACT_PAT}')) AS n_hits,
       md5(regexp_replace(text, '{_REDACT_PAT}', '<TOK>', 'g')) AS redacted_md5
FROM documents
""",
)
def redact_stop_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass (PII-scrub shape) over high-frequency tokens: per-doc
    hit count + md5 of the redacted text (full-text equality without
    shipping the text)."""
    return text.redact_tokens(
        load(spark, sf_dir, "documents"), _REDACT_PAT, "<TOK>"
    )


@query(
    "term_doc_stats",
    """
WITH ex AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
), tf AS (
    SELECT doc_id, tok, count(*) AS tf FROM ex GROUP BY 1, 2
), dfreq AS (
    SELECT tok, count(*) AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df
FROM tf JOIN dfreq USING (tok)
""",
)
def term_doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TF-IDF/BM25 term-document matrix (tf + df per doc-term)."""
    return text.term_doc_stats(load(spark, sf_dir, "documents"))


def _bm25_oracle(terms: tuple[str, ...], k1: float, b: float, k: int) -> str:
    """DuckDB twin of text.bm25_topk. Every float step is written with the
    SAME expression shape (parenthesization + literal casts) as the Spark
    Column tree, so each exactly-rounded IEEE op produces the same bits —
    the score column hash-matches without any log/exp in sight (rational
    idf; see bm25_topk docstring)."""
    n = len(terms)
    tf_cases = ",\n    ".join(
        f"CAST(sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i+1}"
        for i, t in enumerate(terms)
    )
    hit = " OR ".join(f"(tf{i+1} > 0)" for i in range(n))
    df_cases = ",\n    ".join(
        f"CAST(sum(CASE WHEN tf{i+1} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i+1}"
        for i in range(n)
    )
    K1, B = f"CAST({k1!r} AS DOUBLE)", f"CAST({b!r} AS DOUBLE)"
    ONE, HALF = "CAST(1.0 AS DOUBLE)", "CAST(0.5 AS DOUBLE)"
    avgdl = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"
    parts = []
    for i in range(n):
        tfd, dfd = f"CAST(tf{i+1} AS DOUBLE)", f"CAST(df{i+1} AS DOUBLE)"
        idf = f"(((CAST(n AS DOUBLE) - {dfd}) + {HALF}) / ({dfd} + {HALF}))"
        num = f"({tfd} * ({K1} + {ONE}))"
        den = (
            f"({tfd} + ({K1} * (({ONE} - {B}) + "
            f"(({B} * CAST(dl AS DOUBLE)) / {avgdl}))))"
        )
        parts.append(f"(({idf} * {num}) / {den})")
    score = " + ".join(parts)  # left-assoc in both engines
    tfs = ", ".join(f"gh.tf{i+1}" for i in range(n))
    return f"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
), dls AS (
    SELECT doc_id, len(toks) AS dl FROM base
), stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl
    FROM dls
), ex AS (
    SELECT doc_id, unnest(toks) AS tok FROM base
), g AS (
    SELECT doc_id,
    {tf_cases}
    FROM ex GROUP BY 1
), gh AS (
    SELECT * FROM g WHERE {hit}
), dfs AS (
    SELECT
    {df_cases}
    FROM gh
)
SELECT gh.doc_id, {tfs}, {score} AS score
FROM gh JOIN dls ON gh.doc_id = dls.doc_id, dfs, stats
ORDER BY score DESC, gh.doc_id ASC LIMIT {k}
"""


_BM25_TERMS = ("spark", "merge", "window")


@query("bm25_top10", _bm25_oracle(_BM25_TERMS, 1.2, 0.75, 10))
def bm25_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed 3-term query (rational-idf variant — the
    log-free, cross-engine-exact corpus relevance scorer; builds on the
    term_doc_stats backbone)."""
    return text.bm25_topk(
        load(spark, sf_dir, "documents"), _BM25_TERMS, k=10
    )


_PACK_L = 256
_PACK_B = 1024


@query(
    "pack_sequences_256",
    f"""
WITH d AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
), s AS (
    SELECT doc_id, toks, len(toks) AS n_tok, doc_id // {_PACK_B} AS bucket
    FROM d
), pb AS (
    SELECT bucket, CAST(sum(n_tok) AS BIGINT) AS btok FROM s GROUP BY 1
), off AS (
    SELECT bucket,
           CAST(sum(btok) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                - btok AS BIGINT) AS boff
    FROM pb
), placed AS (
    SELECT s.doc_id, s.toks,
           off.boff
           + CAST(sum(s.n_tok) OVER (PARTITION BY s.bucket ORDER BY s.doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - s.n_tok AS start
    FROM s JOIN off USING (bucket)
), ex AS (
    SELECT doc_id,
           CAST(CAST(md5_number_lower(unnest(toks)) AS HUGEINT) % 32768
                AS INTEGER) AS tok,
           generate_subscripts(toks, 1) = 1 AS is_doc_start,
           start + generate_subscripts(toks, 1) - 1 AS gpos
    FROM placed
)
SELECT gpos // {_PACK_L} AS seq_id,
       md5(array_to_string(list(tok ORDER BY gpos), ',')) AS tokens_md5,
       md5(COALESCE(array_to_string(
           list(gpos % {_PACK_L} ORDER BY gpos) FILTER (WHERE is_doc_start),
           ','), '')) AS bounds_md5,
       CAST(count(*) AS BIGINT) AS n_tok,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc_id
FROM ex GROUP BY 1
""",
)
def pack_sequences_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (the canonical LLM pretraining-data op, north-rule
    input shape): tokenize documents to md5-derived int ids, pack the
    doc-ordered token stream into 256-token training rows via the
    two-level bucket prefix sum (never a global single-partition window
    over docs). Token arrays compared as md5(join(tokens)) — full
    token-level value equality without cross-engine array serialization."""
    from .operators import packing

    seqs = packing.pack_sequences(
        packing.tokenize(load(spark, sf_dir, "documents")),
        seq_len=_PACK_L,
        bucket_docs=_PACK_B,
    )
    from pyspark.sql import functions as F

    return seqs.select(
        "seq_id",
        F.md5(
            F.array_join(
                F.transform("tokens", lambda t: t.cast("string")), ","
            )
        ).alias("tokens_md5"),
        F.md5(
            F.array_join(
                F.transform("bounds", lambda b: b.cast("string")), ","
            )
        ).alias("bounds_md5"),
        "n_tok",
        "n_docs",
        "first_doc_id",
    )


@query(
    "contamination_vs_bench",
    """
WITH toks AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, is_bench,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
    WHERE len(w) >= 3
    UNION
    SELECT DISTINCT doc_id, is_bench, trim(text) AS shingle
    FROM toks WHERE len(w) < 3
), bs AS (
    SELECT DISTINCT shingle FROM sh WHERE is_bench
)
SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM sh JOIN bs USING (shingle)
WHERE NOT sh.is_bench
GROUP BY 1
""",
)
def contamination_vs_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a deterministic 1/16 hash-sampled
    'benchmark' subset: distinct shared-3-gram count per train doc."""
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    is_bench = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    )
    return dedup.contamination(d.filter(~is_bench), d.filter(is_bench))


_PIPE_Q = 0.5  # quality threshold (exact double literal both engines)


@query(
    "corpus_pipeline_pack",
    f"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\\s+') AS w,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
    FROM documents
), f AS (
    SELECT doc_id, text,
           CAST(len(w) AS DOUBLE) AS n_ws,
           punct / n_chars AS punct_ratio,
           CAST(len(list_filter(w, x -> lower(x) IN ({_STOP_SQL}))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS stop_ratio
    FROM t
), keep AS (
    SELECT doc_id, text FROM f
    WHERE stop_ratio * 0.4
          + (CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + punct_ratio * 10.0)) * 0.4
          + least(n_ws / 100.0, CAST(1.0 AS DOUBLE)) * 0.2 >= {_PIPE_Q}
), surv AS (
    SELECT k.doc_id, k.text
    FROM keep k
    JOIN (SELECT min(doc_id) AS doc_id FROM keep GROUP BY md5(text)) s
    USING (doc_id)
), d AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM surv
), s AS (
    SELECT doc_id, toks, len(toks) AS n_tok, doc_id // {_PACK_B} AS bucket
    FROM d
), pb AS (
    SELECT bucket, CAST(sum(n_tok) AS BIGINT) AS btok FROM s GROUP BY 1
), off AS (
    SELECT bucket,
           CAST(sum(btok) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                - btok AS BIGINT) AS boff
    FROM pb
), placed AS (
    SELECT s.doc_id, s.toks,
           off.boff
           + CAST(sum(s.n_tok) OVER (PARTITION BY s.bucket ORDER BY s.doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - s.n_tok AS start
    FROM s JOIN off USING (bucket)
), ex AS (
    SELECT doc_id,
           CAST(CAST(md5_number_lower(unnest(toks)) AS HUGEINT) % 32768
                AS INTEGER) AS tok,
           start + generate_subscripts(toks, 1) - 1 AS gpos
    FROM placed
)
SELECT gpos // {_PACK_L} AS seq_id,
       md5(array_to_string(list(tok ORDER BY gpos), ',')) AS tokens_md5,
       CAST(count(*) AS BIGINT) AS n_tok,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc_id
FROM ex GROUP BY 1
""",
)
def corpus_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline END-TO-END in one declarative plan:
    quality-filter (Gopher/C4-style blend) -> exact-dedup survivor set
    (min doc_id per content digest, one shuffle on the digest) ->
    tokenize -> pack into 256-token training rows. This is the
    composition a 100 TB corpus actually runs nightly; Catalyst fuses
    the filter+digest stages into the scan side, and every stage is the
    already-gated operator (quality_scores / exact_dups / pack_sequences)
    — the query proves they compose without re-materialization."""
    from pyspark.sql import functions as F

    from .operators import packing

    d = load(spark, sf_dir, "documents")
    q = text.quality_scores(d).filter(F.col("quality") >= _PIPE_Q).select(
        "doc_id"
    )
    keep = d.join(q, "doc_id", "left_semi").select("doc_id", "text")
    keepers = (
        keep.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = keep.join(keepers, "doc_id", "left_semi")
    seqs = packing.pack_sequences(
        packing.tokenize(surv), seq_len=_PACK_L, bucket_docs=_PACK_B
    )
    return seqs.select(
        "seq_id",
        F.md5(
            F.array_join(
                F.transform("tokens", lambda t: t.cast("string")), ","
            )
        ).alias("tokens_md5"),
        "n_tok",
        "n_docs",
        "first_doc_id",
    )


@query(
    "chunk_docs_windows",
    """
WITH t AS (
    SELECT doc_id, text, length(text) AS n,
           CAST(1 + ceil(CAST(greatest(length(text) - 200, 0) AS DOUBLE)
                         / 150) AS INTEGER) AS n_win
    FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       md5(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS chunk_md5,
       CAST(least(n - i * 150, 200) AS INTEGER) AS n_chars
FROM t, LATERAL (SELECT unnest(generate_series(0, n_win - 1)) AS i) g
""",
)
def chunk_docs_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping character windows (200 chars, stride 150)."""
    return text.chunk_documents(load(spark, sf_dir, "documents"), 200, 150)


@query(
    "split_assignment",
    """
WITH h AS (
    SELECT doc_id,
           CAST(CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) AS HUGEINT)
                % 2147483648 % 10 AS BIGINT) AS bucket
    FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split
FROM h
""",
)
def split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8/1/1 train/val/test assignment (md5 bucketing via
    the 2^31-reduction twin rule — see assign_splits)."""
    return text.assign_splits(load(spark, sf_dir, "documents"))


def _len_pct_sql(q: str) -> str:
    """Rank/blend percentile of n_chars at quantile q (exact twin shape
    of _P95_SQL; integer subtraction exact, blend in double)."""
    k = f"(n - 1) * CAST({q} AS DOUBLE)"
    lo = f"min(CASE WHEN rn = CAST(floor({k}) AS BIGINT) THEN n_chars END)"
    hi = f"min(CASE WHEN rn = CAST(ceil({k}) AS BIGINT) THEN n_chars END)"
    return f"{lo} + ({k} - floor({k})) * ({hi} - {lo})"


@query(
    "doc_length_stats_by_source",
    f"""
WITH s AS (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY n_chars) - 1 AS rn,
           count(*)   OVER (PARTITION BY source) AS n
    FROM documents
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       {_len_pct_sql('0.5')} AS p50_chars,
       {_len_pct_sql('0.95')} AS p95_chars
FROM s GROUP BY source, n
""",
)
def doc_length_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile per source — the first table any curation
    run produces (filter thresholds come from these percentiles). Exact
    rank/blend percentiles (p95_value_by_type pattern), never a library
    quantile whose FP order differs across engines."""
    from pyspark.sql import Window as W, functions as F

    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars")
    s = d.select(
        "source",
        "n_chars",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )

    def pct(q: float):
        k = (F.col("n") - 1) * F.lit(q)
        lo = F.min(
            F.when(F.col("rn") == F.floor(k).cast("long"), F.col("n_chars"))
        )
        hi = F.min(
            F.when(F.col("rn") == F.ceil(k).cast("long"), F.col("n_chars"))
        )
        return lo + (k - F.floor(k)) * (hi - lo)

    return (
        s.groupBy("source", "n")
        .agg(
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
            pct(0.5).alias("p50_chars"),
            pct(0.95).alias("p95_chars"),
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "min_chars",
            "max_chars",
            "sum_chars",
            "p50_chars",
            "p95_chars",
        )
    )


@query(
    "repetition_ratios",
    """
WITH t AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
), g AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 2 THEN
               [w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w)-1)]
           ELSE [trim(text)] END AS grams,
           w
    FROM t
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
           AS uniq_token_ratio,
       CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
           AS uniq_bigram_ratio
FROM g
""",
)
def repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition filters,
    distinct from cross-doc dedup): unique-token and unique-bigram
    fractions per doc. Low ratios flag boilerplate/looping text. Pure
    Column math (one narrow pass, integer counts -> one double division
    — cross-engine exact)."""
    from pyspark.sql import functions as F

    from .operators.text import ws_tokens

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.trim(F.col("text")).alias("_t"), ws_tokens("text").alias("_w")
    )
    w = F.col("_w")
    grams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i.cast("int")),
                F.element_at(w, (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.array(F.col("_t")))
    return base.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(w)).cast("double")
            / F.size(w).cast("double")
        ).alias("uniq_token_ratio"),
        (
            F.size(F.array_distinct(grams)).cast("double")
            / F.size(grams).cast("double")
        ).alias("uniq_bigram_ratio"),
    )
