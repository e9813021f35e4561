"""Deduplication family over the documents table.

* exact:      md5(text) hash-groupBy — one shuffle on the digest.
* n-gram Jaccard: word n-gram shingle sets, shingle-equi-join to count
  intersections, exact Jaccard filter. Exact (oracle-checkable); the
  shingle join is the quadratic-in-duplicates baseline.
* MinHash + LSH:  k universal-hash permutations h_p(x) = (a_p*x+b_p)
  mod (2^31-1) over the md5-derived 31-bit shingle hash -> min; band
  signatures -> bucket equi-join -> candidates -> exact-Jaccard
  verify. The scale path: cost is (docs x k) + candidate pairs, never
  all-pairs. Banding is probabilistic in RECALL but fully
  deterministic in VALUE (every constant is an md5-derived literal),
  so the queries() entry carries a full DuckDB oracle.
* SimHash:    64-bit sign-vector of md5-derived token hashes; stored as
  the low 60 bits (bigint-safe in every engine). Hamming-ball pairs via
  band join.

Oracle-reproducible hashes use md5 (simhash token hashes); shingle JOIN
KEYS use xxhash64 int64 (8B vs ~40B shuffle keys) — the oracle joins on
the strings, equal modulo the universal 2^-64 collision trade (fixtures
verified collision-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import cachereg
from .hashing import MERSENNE31, MOD31, md5_lower64, minhash_coeffs
from .text import ws_tokens


def shingles(df: DataFrame, text: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams; docs shorter than n words
    contribute their whole trimmed text as the single shingle.

    The token array is materialized as a column BEFORE the lambda uses it:
    referencing the split inside transform() re-evaluates it per array
    element (O(len^2) — measured 4x slowdown on sf0.1). The tokens come
    from text.ws_tokens, a Column whose regex no parser setting can
    reinterpret (under spark.sql.parser.escapedStringLiterals an SQL
    '\\\\s+' literal stops matching whitespace and every document
    collapses to one shingle). The gram projection is built from an SQL
    string instead of nested Column-object lambdas: the py4j construction
    of the transform chain cost ~0.05 s of driver wall per call, and
    shingles() runs twice per near-dup query (signature chain + verify
    side)."""
    grams = ", ".join(
        f"element_at(_w, CAST(i + {j} AS INT))" for j in range(n)
    )
    return df.select(
        "doc_id", F.trim(F.col(text)).alias("_t"), ws_tokens(text).alias("_w")
    ).selectExpr(
        "doc_id",
        f"explode(CASE WHEN size(_w) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(_w) - {n - 1}), "
        f"i -> concat_ws(' ', {grams}))) "
        "ELSE array(_t) END) AS shingle",
    )


def exact_dups(df: DataFrame, text: str = "text") -> DataFrame:
    """Exact dedup index: digest -> group size + keeper (min doc_id)."""
    return (
        df.groupBy(F.md5(F.col(text)).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard >= t).

    Plan: shingle table S; |S_d| per doc; self-equi-join on shingle ->
    per-pair intersection count; jaccard = common/(na+nb-common).
    At 100 TB the equi-join shuffles on the shingle key — frequent
    shingles are the skew (and fan-out) risk. `max_df` drops shingles
    appearing in more than `max_df` documents BEFORE the self-join
    (stop-shingles carry no dedup signal and each contributes
    O(df^2) join rows); both per-doc sizes and intersections are then
    computed over the surviving rare-shingle vocabulary, so the
    resulting jaccard is self-consistent over that vocabulary.
    """
    sh = shingles(df, text, n)
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(dfreq.filter(F.col("_df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )
    # the shingle index feeds three consumers (both join sides + sizes);
    # materialize it once instead of re-running the explode per consumer —
    # at cluster scale this is the standard temp-table shingle index.
    # Join on the 8-byte xxhash64 of the shingle, not the ~40-byte string:
    # set sizes and intersection counts are hash-collision-exact up to
    # 2^-64 per pair (the universal near-dup trade), and shuffle volume +
    # key compares drop ~5x. cache() (columnar, ~5x faster than the
    # Java-serialized localCheckpoint blocks) + count() so the cache lands
    # before the consumer stages fan out (else each recomputes the chain).
    sh = cachereg.cached(
        sh.select("doc_id", F.xxhash64("shingle").alias("shingle")),
        eager=True,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "common", "na", "nb", "jaccard")


def _minhash_mins(df: DataFrame, k: int, text: str, n: int) -> DataFrame:
    """(doc_id, _m0.._m{k-1}): per-permutation minima as PLAIN COLUMNS.

    Staged projections keep the planner sane: h31 (the md5 chain) is
    materialized in its own projection, then the k permutations are k
    cheap integer columns referencing it, then k scalar min-aggregates.
    Expressing the permutations as element_at over a zip_with of literal
    arrays made Catalyst inline-expand the md5 chain into every one of
    the k aggregates (~40 s of DRIVER planning per query at k=32);
    CollapseProject keeps the expensive column un-inlined because it is
    referenced k times. Scalar mins also aggregate partially map-side —
    shuffle rows are k bigints per doc."""
    sh = shingles(df, text, n)
    ab = minhash_coeffs(k)
    h31 = F.pmod(md5_lower64(F.col("shingle")), F.lit(MOD31))
    hashed = sh.select("doc_id", h31.alias("_h31"))
    # SQL-string expressions: one parser call instead of 4 py4j round
    # trips per permutation column — k=32 made Column-object construction
    # ~0.3 s of driver wall PER INVOCATION (bench times query
    # construction too). Literals/functions are the exact same pmod/min
    # expressions, so values and the oracle are unchanged.
    perms = hashed.selectExpr(
        "doc_id",
        *[
            f"pmod({a}L * _h31 + {b}L, {MERSENNE31}L) AS _h{i}"
            for i, (a, b) in enumerate(ab)
        ],
    )
    return perms.groupBy("doc_id").agg(
        *[F.expr(f"min(_h{i}) AS _m{i}") for i in range(k)]
    )


def minhash_signatures(
    df: DataFrame, k: int = 32, text: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, sig: array<bigint> length k) — min over the k universal
    permutations h_p(s) = (a_p * h31(s) + b_p) mod (2^31-1), where
    h31 = pmod(md5_lower64(shingle), 2^31). ONE md5 per shingle row; the
    k permutations are literal-coefficient integer arithmetic (products
    stay < 2^62, ANSI-overflow safe), and DuckDB reproduces every value
    via md5_number_lower + the same literals."""
    mins = _minhash_mins(df, k, text, n)
    return mins.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    text: str = "text",
    n: int = 3,
) -> DataFrame:
    """LSH banding -> candidate pairs -> exact-Jaccard verification.

    rows = k/bands per band; a pair collides in a band iff that band of
    the signature matches exactly. Verified pairs carry the exact jaccard,
    so precision is 1.0; recall follows the (1-(1-s^r)^b) curve.
    """
    r = k // bands
    mins = _minhash_mins(df, k, text, n)
    # one int64 band key per (doc, band): xxhash64 over the band's min
    # columns. Joining on a long is ~10x faster than joining on the raw
    # array<bigint> key (array join keys fall off the codegen hash-join
    # path); a 2^-64 hash collision can only ADD a candidate, which the
    # exact-Jaccard verify then scores truthfully — same universal trade
    # as the xxhash64 shingle join keys
    # SQL-string build (two parser calls): the Column-object struct/
    # posexplode construction cost ~0.08 s of driver wall per invocation
    # (bench times query construction); same band/key expressions, same
    # values, same oracle
    band_structs = ", ".join(
        "named_struct('band', {b}, 'key', xxhash64({cols}))".format(
            b=b, cols=", ".join(f"_m{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    banded = mins.selectExpr(
        "doc_id", f"posexplode(array({band_structs})) AS (pos, bk)"
    ).selectExpr("doc_id", "bk.band AS band", "bk.key AS key")
    banded = cachereg.cached(banded, eager=True)  # land before the self-join's two reads
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    cands = cachereg.cached(cands)  # tiny; verify must not re-run banding
    sh = shingles(df, text, n)
    verified = candidate_jaccard(cands, sh)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def candidate_jaccard(cands: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate-pair set only — the scale-safe
    verification step (cost = Σ over candidates of |shingles(a)|, never the
    all-pairs shingle self-join).

    Plan: one semi-join restricts the shingle index to candidate docs, one
    agg folds each doc's (distinct) shingle hashes into an array, two doc-id
    equi-joins attach both arrays per pair, and common = size(
    array_intersect) — shuffles scale with the candidate set, not the
    corpus square. Note: a candidate pair with ZERO common shingles now
    yields a common=0 row (jaccard 0.0) instead of silently dropping out;
    threshold filters (> 0) are unaffected.
    """
    # restrict the index to CANDIDATE DOCS before anything shuffles (ONE
    # semi-join on the union of both pair sides — the per-side semi-joins
    # scanned the shingle index twice), then fold each candidate doc's
    # shingle set into an array. Per-pair intersection is array_intersect
    # on two codegen'd array columns — the r5 plan instead shuffled the
    # per-shingle rows through a (doc, shingle) equi-join + groupBy and
    # two more count joins: 6 joins/9 stages collapsed to 1 agg + 2 joins
    # (guide §2.4), with identical counts (shingle rows are distinct per
    # doc, so |array_intersect| == the equi-join's row count per pair).
    # Shuffle volume still tracks the candidate set, never the corpus;
    # AQE broadcasts the folded array table when small. The CACHED frame
    # is the folded table (one array row per candidate doc), not the flat
    # per-shingle index the r5 plan pooled: both consumers below read the
    # arrays, and a repeat invocation (bench warm -> timed) then replays
    # only 2 joins instead of the fold chain.
    sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = cachereg.cached(
        sh.join(docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("_set"),
            F.count(F.lit(1)).alias("n_sh"),
        ),
        # land before the two join sides read it (a lazy cache recomputes
        # once per consumer stage); the landing count runs only on the
        # FIRST registration — repeat invocations skip it via the pool
        eager=True,
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_set").alias("_sa"),
        F.col("n_sh").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_set").alias("_sb"),
        F.col("n_sh").alias("nb"),
    )
    return (
        cands.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("common", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
    )


def simhash(df: DataFrame, text: str = "text", bits: int = 60) -> DataFrame:
    """(doc_id, simhash bigint): sign vector over md5-derived 64-bit token
    hashes with multiplicity; low `bits` bits only (signed-safe).

    Token hash = little-endian int64 of md5 bytes 8..15 == DuckDB's
    md5_number_lower, so the oracle reproduces it exactly.
    """
    ex = df.select(
        "doc_id", F.explode(ws_tokens(text)).alias("_tok")
    )  # explode the materialized array (splitting once per row)
    hashed = ex.select("doc_id", md5_lower64(F.col("_tok")).alias("h"))
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sh = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (2**b)).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh + term
    return bit_sums.select("doc_id", sh.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame, max_hamming: int = 3, text: str = "text", bits: int = 60
) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (doc_a < doc_b,
    hamming(simhash_a, simhash_b) <= max_hamming) — EXACT, not
    probabilistic: the hash is split into max_hamming+1 bit-bands, and by
    pigeonhole any pair within the ball agrees exactly on >= 1 band, so the
    band equi-join loses nothing. Verification (bit_count of xor) runs on
    band-collision candidates only; cost ~ docs x bands + candidate pairs.

    Corpus-size sizing rule (same collision math the embedding-LSH
    ladder measured, BENCH/BASELINE.md "adaptive r"): random band
    collisions are ~n^2/2 * 2^-(bits/bands). At bits=60 / 4 bands (15
    bits/band) that term passes the linear budget around n ~ 10^5-10^6
    UNCORRELATED docs. Unlike sign-LSH, band width here is PINNED by
    the pigeonhole exactness guarantee (bands = max_hamming+1), so the
    scale dial is ``bits``: a 100 TB corpus should carry a wider
    fingerprint (e.g. 120 bits as two 60-bit bigint words, band keys
    sliced across both) — same recall guarantee, random collisions down
    by 2^15 at the same band count.
    """
    bands = max_hamming + 1
    r = bits // bands
    sh = cachereg.cached(simhash(df, text, bits))
    widths = [r + (1 if b < bits % bands else 0) for b in range(bands)]
    offs = [sum(widths[:b]) for b in range(bands)]
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), offs[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(
        "band", "key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_ha")
    )
    b = banded.select(
        "band", "key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_hb")
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def components(pairs: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id,
    component) where component = min doc_id reachable — the "cluster and
    keep one" step of corpus dedup (keeper = the doc whose id equals its
    component).

    CONTRACT: when ``nodes`` is None the node set defaults to the pair
    graph's ENDPOINTS, so isolated documents (no near-dup edge) are absent
    from the output — callers needing a total labeling of the corpus must
    pass ``nodes`` explicitly or left-join the result (as dedup_survivors
    does, treating NULL component as "its own singleton").

    Min-label propagation WITH pointer jumping: each round every node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path halving, L(v) <- L(L(v))). Neighbor-min alone
    needs O(diameter) rounds — fine for near-dup cliques, pathological on
    chain-shaped dup graphs; the jump step doubles propagation distance
    per round, giving O(log N) rounds on any shape (test: a 64-node path
    converges in <= 12 rounds, not 63). Each round is two key equi-join
    shuffles; the loop runs on the driver with localCheckpoint truncating
    lineage so plans stay flat. Deterministic; no RNG — the fixed point
    (every node labeled with its component's min id) is the same as plain
    propagation, so the oracle stays a recursive CTE.
    """
    labels, _ = components_with_rounds(pairs, nodes)
    return labels


def components_with_rounds(
    pairs: DataFrame, nodes: DataFrame | None = None
) -> tuple[DataFrame, int]:
    """components() + the number of rounds the loop ran (for O(log N)
    convergence assertions)."""
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    if nodes is None:
        nodes = sym.select(F.col("src").alias("doc_id")).distinct()
    edges = sym.localCheckpoint(eager=False)
    labels = nodes.select("doc_id", F.col("doc_id").alias("component"))
    rounds = 0
    while True:
        rounds += 1
        neigh = (
            edges.join(
                labels.withColumnRenamed("doc_id", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component").alias("_n"))
        )
        stepped = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce(F.col("_n"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump: L(v) <- L(L(v)). Labels are node ids and only ever
        # decrease (L(x) <= x invariant), so the jump never overshoots the
        # component min; missing label rows (component outside `nodes`)
        # coalesce to the current label.
        jump = stepped.select(
            F.col("doc_id").alias("component"), F.col("component").alias("_j")
        )
        new = (
            stepped.join(jump, "component", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_j"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()  # eager: materialize the round, flat lineage
        )
        changed = (
            new.join(labels.withColumnRenamed("component", "_old"), "doc_id")
            .filter(F.col("component") != F.col("_old"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels, rounds


def contamination(
    train: DataFrame, bench: DataFrame, text: str = "text", n: int = 3
) -> DataFrame:
    """Benchmark decontamination — the train/eval overlap scrub every
    training-data pipeline runs before a corpus ships: per TRAIN doc, the
    number of distinct n-gram shingles it shares with ANY benchmark doc
    (downstream policy drops n_hits >= 1 or thresholds on it).

    Plan: the benchmark shingle set is dedup'd BEFORE the join and is the
    small side — benchmarks are tiny next to the corpus, so AQE broadcasts
    it and the train side never shuffles; with a large benchmark it
    degrades to one equi-join shuffle on the shingle key. At 100 TB join
    on xxhash64(shingle) instead of the string (a collision can only ADD
    a hit, the universal near-dup trade); string keys kept here so the
    count is exactly DuckDB-reproducible."""
    ts = shingles(train, text, n)
    bs = shingles(bench, text, n).select("shingle").distinct()
    return (
        ts.join(bs, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
