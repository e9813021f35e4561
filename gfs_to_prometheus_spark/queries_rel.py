"""Relational operator-parity queries (SURVEY.md §2.5/2.7 joins, set ops,
sources) registered into the shared QUERIES/ORACLES maps.

Each maps a reference operator row to idiomatic Spark: broadcast dimension
joins (J1–J3), mapping-lookup left join with coalesce fallback (J4),
array zip + positional explode (J5), sorted distinct listing (W6),
dedup/row_number (W7), union (W8), glob discovery (S7), CSV intermediate
source/sink (S6), plus the golden validation aggregate (A2/A7).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .queries import load, query
from .timeutil import micro, sql_micro


@query(
    "revenue_by_region",
    f"""
SELECT r.r_name AS region,
       CAST(sum({sql_micro('o.o_totalprice')}) AS BIGINT) AS revenue_micro,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY 1
""",
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style chained dimension lookups: the reference resolves
    instance->type via in-memory maps (internal/converter/converter.go:79-84);
    here the small dims are explicit broadcasts, fact side never shuffles
    for the join (only the final 5-group aggregate)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum(micro("o_totalprice")).alias("revenue_micro"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_MAPPING_ROWS = [
    ("click", "ui_click_total", True),
    ("purchase", "commerce_purchase_total", True),
    ("error", None, False),  # drop rule
]


@query(
    "metric_mapping_join",
    f"""
WITH mapping(key, mapped_name, keep) AS (
    VALUES {", ".join(f"('{k}', {('NULL' if v is None else chr(39) + v + chr(39))}, {str(keep).lower()})" for k, v, keep in _MAPPING_ROWS)}
)
SELECT coalesce(m.mapped_name,
                'gemfire_events_' || lower(replace(replace(e.event_type, ' ', '_'), '-', '_')))
           AS metric,
       count(*) AS cnt,
       CAST(sum({sql_micro('e.value')}) AS BIGINT) AS sum_micro
FROM events e
LEFT JOIN mapping m ON e.event_type = m.key
WHERE m.keep IS NULL OR m.keep
GROUP BY 1
""",
)
def metric_mapping_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/P7/F7: broadcast mapping lookup, rename-with-default, drop rule —
    the config.example.yaml semantics on the events stream."""
    ev = load(spark, sf_dir, "events")
    m = spark.createDataFrame(
        _MAPPING_ROWS, "key string, mapped_name string, keep boolean"
    )
    default = F.concat(
        F.lit("gemfire_events_"),
        F.regexp_replace(F.lower("event_type"), "[ -]", "_"),
    )
    return (
        ev.join(F.broadcast(m), ev.event_type == m.key, "left")
        .filter(F.col("keep").isNull() | F.col("keep"))
        .groupBy(F.coalesce("mapped_name", default).alias("metric"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(micro("value")).alias("sum_micro"),
        )
    )


@query(
    "array_zip_explode",
    """
SELECT vec_id, CAST(i - 1 AS INT) AS pos,
       embedding[i]                AS a,
       embedding[len(embedding) + 1 - i] AS b
FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
WHERE vec_id < 20
""",
)
def array_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: the timestamp<->value positional zip
    (java-extractor/AllStatsExtractor.java:47-94) as arrays_zip+posexplode."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    z = F.arrays_zip(F.col("embedding"), F.reverse(F.col("embedding")))
    return e.select(
        "vec_id", F.posexplode(z).alias("pos", "pair")
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("pair.embedding").alias("a"),
        F.col("pair.1").alias("b"),
    )


@query(
    "sorted_metric_listing",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
)
def sorted_metric_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: unique metric names sorted
    (java-extractor/AllStatsExtractor.java:113-117)."""
    return load(spark, sf_dir, "events").select("event_type").distinct().orderBy(
        "event_type"
    )


@query(
    "first_event_per_user",
    """
SELECT user_id, event_type AS first_type, epoch_ms(ts) AS first_ts_ms
FROM (
    SELECT user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
    FROM events
) WHERE rn = 1
""",
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 dedup-to-first: the once-only processed-set analog as
    row_number()=1 (ts unique per user in the fixture)."""
    from .timeutil import epoch_ms

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("first_type"),
            epoch_ms("ts").alias("first_ts_ms"),
        )
    )


@query(
    "union_sources",
    f"""
SELECT kind, count(*) AS cnt, CAST(sum(v_micro) AS BIGINT) AS sum_micro FROM (
    SELECT 'big' AS kind, {sql_micro('value')} AS v_micro FROM events WHERE value >= 100
    UNION ALL
    SELECT 'purchase' AS kind, {sql_micro('value')} AS v_micro FROM events WHERE event_type = 'purchase'
) GROUP BY 1
""",
)
def union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: multiple source streams merged into one work list
    (cmd/cluster.go:47-52)."""
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("value") >= 100).select(
        F.lit("big").alias("kind"), micro("value").alias("v_micro")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.lit("purchase").alias("kind"), micro("value").alias("v_micro")
    )
    return a.unionByName(b).groupBy("kind").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v_micro").alias("sum_micro")
    )


@query(
    "glob_discovery",
    "SELECT count(*) AS n_rows, 1 AS n_files FROM events",
)
def glob_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: glob-based file discovery + per-file identity via
    input_file_name() (the node-extraction hook, processor.go:131-198)."""
    df = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("_file", F.input_file_name())
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_file").cast("int").alias("n_files"),
    )


@query(
    "csv_roundtrip",
    f"""
SELECT event_type, CAST(sum({sql_micro('value')}) AS BIGINT) AS sum_micro,
       count(*) AS cnt
FROM events WHERE value >= 250 GROUP BY 1
""",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: the CSV intermediate sink/source
    (java-extractor/AllStatsExtractor.java:88-93 -> extract_all_stats.sh).
    Values travel as scaled int64 (exact); doubles never round-trip text."""
    ev = load(spark, sf_dir, "events").filter(F.col("value") >= 250)
    tmp = os.path.join(
        tempfile.gettempdir(), f"csv_roundtrip_{os.path.basename(sf_dir)}"
    )
    (
        ev.select("event_type", micro("value").alias("v_micro"))
        .write.mode("overwrite")
        .option("header", True)
        .csv(tmp)
    )
    back = spark.read.option("header", True).schema(
        "event_type string, v_micro long"
    ).csv(tmp)
    return back.groupBy("event_type").agg(
        F.sum("v_micro").alias("sum_micro"), F.count(F.lit(1)).alias("cnt")
    )


@query(
    "validation_stats",
    """
SELECT event_type,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / count(*) / 1000000.0 AS avg_value,
       max(value) AS max_value,
       min(value) AS min_value,
       count(*)   AS cnt
FROM events GROUP BY 1
""",
)
def validation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A7: the golden-series validation aggregate (avg/max/count triple,
    README-WORKING-SOLUTION.md:63-67) — avg derived from the exact scaled
    sum so both engines divide identical integers."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        (
            F.sum(micro("value")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("avg_value"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "cube_event_counts",
    """
SELECT coalesce(event_type, '__all__') AS event_type,
       coalesce(CAST(user_id AS VARCHAR), '__all__') AS user_group,
       count(*) AS cnt
FROM events
WHERE user_id < 5
GROUP BY GROUPING SETS ((event_type, user_id), (event_type), (user_id), ())
""",
)
def cube_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube(): grouping-sets coverage (cheap extension beyond reference
    parity, SURVEY §2.6 note)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    return (
        ev.cube("event_type", "user_id")
        .count()
        .select(
            F.coalesce("event_type", F.lit("__all__")).alias("event_type"),
            F.coalesce(F.col("user_id").cast("string"), F.lit("__all__")).alias(
                "user_group"
            ),
            F.col("count").alias("cnt"),
        )
    )


@query(
    "json_props_decode",
    """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS cnt
FROM events GROUP BY 1
""",
)
def json_props_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 analog: the reference shells out to Java and reads JSON back
    (internal/gfs/java_extractor.go:45-76); here the JSON side-channel is
    decoded in-plan with get_json_object — no process boundary."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("cnt"),
    )


_TYPE_CODE_SQL = """
SELECT code,
       CASE WHEN code IN (1, 2, 3, 4) THEN 'int'
            WHEN code = 5 THEN 'long'
            WHEN code = 6 THEN 'float'
            WHEN code IN (7, 8, 12) THEN 'double'
            ELSE 'unknown' END AS dtype,
       count(*) AS cnt,
       CAST(sum(CAST(floor(coalesce(CASE WHEN value <= 1000000000.0 THEN value END, 0.0)
                * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
FROM (SELECT event_id % 13 AS code, value FROM events)
GROUP BY 1, 2
"""


@query("type_code_normalization", _TYPE_CODE_SQL)
def type_code_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6/D7: Geode type-code -> dtype mapping
    (internal/gfs/statarchive.go:823-844) and numeric widening with
    unknown->0 fallback (internal/converter/converter.go:178-188),
    exercised over a synthesized code column."""
    from .timeutil import micro

    ev = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 13).alias("code"), "value"
    )
    dtype = (
        F.when(F.col("code").isin(1, 2, 3, 4), "int")
        .when(F.col("code") == 5, "long")
        .when(F.col("code") == 6, "float")
        .when(F.col("code").isin(7, 8, 12), "double")
        .otherwise("unknown")
    )
    widened = F.coalesce(
        F.when(F.col("value") <= 1e9, F.col("value")), F.lit(0.0)
    )
    return ev.groupBy("code", dtype.alias("dtype")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(micro(widened)).alias("sum_micro"),
    )


@query(
    "gfs_archive_roundtrip",
    """
SELECT event_type AS series_key, epoch_ms(ts) AS ts_ms,
       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS value_long
FROM events
""",
)
def gfs_archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/D1/D2/D4 input-format parity: pack per-series sample streams into
    the reference's wire encodings (timestamp deltas + Geode compact ints,
    internal/gfs/statarchive.go:296-316,1034-1088), decode back; the oracle
    is the identity projection."""
    from .sources import gfs_binary

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_key"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        micro("value").alias("value_long"),
    )
    return gfs_binary.decode_archive(gfs_binary.encode_archive(ev))


def _histogram_quantile_sql(q: float, les) -> str:
    """SQL mirror of histogram.histogram_quantile's fixed expression."""
    rank = f"(CAST({q} AS DOUBLE) * CAST(total AS DOUBLE))"
    cases = []
    for k, le in enumerate(les):
        lo = 0.0 if k == 0 else float(les[k - 1])
        c_prev = "CAST(0 AS BIGINT)" if k == 0 else f"c{k-1}"
        interp = (
            f"CAST({lo} AS DOUBLE) + (CAST({float(le)} AS DOUBLE) - CAST({lo} AS DOUBLE)) * "
            f"(({rank} - CAST({c_prev} AS DOUBLE)) / CAST(c{k} - {c_prev} AS DOUBLE))"
        )
        cases.append(f"WHEN CAST(c{k} AS DOUBLE) >= {rank} THEN {interp}")
    sums = ", ".join(
        f"sum(CASE WHEN value <= CAST({float(le)} AS DOUBLE) THEN 1 ELSE 0 END) AS c{k}"
        for k, le in enumerate(les)
    )
    return f"""
WITH b AS (
    SELECT event_type, {sums}, count(*) AS total
    FROM events GROUP BY 1
)
SELECT event_type,
       CASE {' '.join(cases)} ELSE CAST({float(les[-1])} AS DOUBLE) END AS quantile
FROM b
"""


@query(
    "histogram_quantile_p90",
    _histogram_quantile_sql(0.9, (10.0, 25.0, 50.0, 100.0, 250.0, 500.0)),
)
def histogram_quantile_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL histogram_quantile(0.9, ...) over le-buckets: the one-pass,
    fixed-memory quantile (vs the exact per-group-sort p95 in A8) — the
    at-scale estimator Prometheus itself serves."""
    from .histogram import histogram_quantile

    ev = load(spark, sf_dir, "events")
    return histogram_quantile(ev, 0.9)


@query(
    "deriv_1h",
    """
WITH pts AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           epoch_ms(ts) - (epoch_ms(ts) // 3600000) * 3600000 AS x,
           CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y
    FROM events
), agg AS (
    SELECT event_type, bucket_ms, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx
    FROM pts GROUP BY 1, 2
)
SELECT event_type, bucket_ms,
       CASE WHEN n < 2
                 OR CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
            THEN NULL
            ELSE CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                      AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                        AS DOUBLE)
                 * CAST(1000.0 AS DOUBLE)
       END AS deriv_micro_per_s
FROM agg
""",
)
def deriv_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL deriv(m[1h]): least-squares slope per series bucket. All
    moments are exact integers (x centered on the bucket start so the
    products fit; the cross-moment combination runs in 38-digit decimals
    = DuckDB's HUGEINT), with ONE double division at the end — bit-exact
    across engines, order-independent."""
    from .timeutil import bucket_ms, epoch_ms

    ev = load(spark, sf_dir, "events")
    b = bucket_ms("ts", 3600)
    pts = ev.select(
        "event_type",
        b.alias("bucket_ms"),
        (epoch_ms("ts") - b).alias("x"),
        micro("value").alias("y"),
    )
    # raw cross moments go straight to decimal(38,0) == DuckDB HUGEINT:
    # int64 sums of x*x / x*y overflow around ~7e5 samples per series-hour
    # (x up to 3.6e6 ms, y micro-scaled) — Spark would wrap/throw while
    # DuckDB widens, diverging beyond fixture scale
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    agg = pts.groupBy("event_type", "bucket_ms").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    den = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    deriv = (
        F.when((F.col("n") < 2) | (den == F.lit(0).cast("decimal(38,0)")), F.lit(None))
        .otherwise(num.cast("double") / den.cast("double") * F.lit(1000.0))
    )
    return agg.select(
        "event_type", "bucket_ms", deriv.alias("deriv_micro_per_s")
    )


@query(
    "resets_1h",
    """
WITH dedup AS (
    SELECT event_type, ts, max(value) AS value FROM events GROUP BY 1, 2
), lagged AS (
    SELECT event_type, ts, value,
           lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS prev
    FROM dedup
)
SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev
                     THEN 1 ELSE 0 END) AS BIGINT) AS resets
FROM lagged GROUP BY 1, 2
""",
)
def resets_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL resets(m[1h]): counter-decrease count per series bucket."""
    from .rate import resets

    return resets(load(spark, sf_dir, "events"), 3600)


@query(
    "avg_over_time_1h",
    """
SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       CAST(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_micro
FROM events GROUP BY 1, 2
""",
)
def avg_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL avg_over_time(m[1h]): order-independent int64-micro sum,
    one double division at the end."""
    from .timeutil import bucket_ms

    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", bucket_ms("ts", 3600).alias("bucket_ms")
    ).agg(
        (
            F.sum(micro("value")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_micro")
    )


@query(
    "changes_5m",
    """
WITH dedup AS (
    SELECT event_type, ts, max(value) AS value FROM events GROUP BY 1, 2
), lagged AS (
    SELECT event_type, ts, value,
           lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS prev
    FROM dedup
)
SELECT event_type, (epoch_ms(ts) // 300000) * 300000 AS bucket_ms,
       CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev
                     THEN 1 ELSE 0 END) AS BIGINT) AS changes
FROM lagged GROUP BY 1, 2
""",
)
def changes_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL changes(m[5m]): value-change count per series bucket."""
    from .rate import changes

    ev = load(spark, sf_dir, "events")
    return changes(ev, 300)


@query(
    "delta_1h",
    """
WITH per_ts AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms, ts,
           max(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS v
    FROM events GROUP BY 1, 2, 3
)
SELECT event_type, bucket_ms,
       CAST(arg_max(v, ts) - arg_min(v, ts) AS BIGINT) AS delta_micro
FROM per_ts GROUP BY 1, 2
""",
)
def delta_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL delta(m[1h]) for gauges: last - first per series bucket,
    exact (scaled-int64 transport)."""
    from .rate import gauge_delta

    ev = load(spark, sf_dir, "events")
    return gauge_delta(ev, 3600)


@query(
    "label_matcher_select",
    """
WITH keyed AS (
    SELECT 'requests{env=prod,type=' || event_type || '}' AS series_key,
           value
    FROM events
), sel AS (
    SELECT regexp_extract(series_key, '^([^{]+)', 1) AS metric,
           regexp_extract(series_key, '[{,]type=([^,}]+)', 1) AS type,
           regexp_extract(series_key, '[{,]env=([^,}]+)', 1) AS env,
           value
    FROM keyed
)
SELECT metric, type, count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_micro
FROM sel
WHERE regexp_full_match(type, 'click|error') AND env = 'prod'
GROUP BY 1, 2
""",
)
def label_matcher_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style selection requests{env="prod", type=~"click|error"}
    over 'metric{k=v,...}' series keys (api.select_series): matcher
    predicates are plain column regexes the scan filters on; the oracle
    mirrors the same regex extraction in SQL."""
    from .api import select_series
    from .naming import series_label, series_metric

    ev = load(spark, sf_dir, "events").withColumn(
        "series_key",
        F.concat(
            F.lit("requests{env=prod,type="), F.col("event_type"), F.lit("}")
        ),
    )
    sel = select_series(ev, {"env": "prod", "type": "=~click|error"})
    return sel.groupBy(
        series_metric(F.col("series_key")).alias("metric"),
        series_label(F.col("series_key"), "type").alias("type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micro("value")).alias("sum_micro"),
    )


@query(
    "ts_token_roundtrip",
    """
SELECT event_type, epoch_ms(ts) AS ts_ms, count(*) AS n
FROM events GROUP BY 1, 2
""",
)
def ts_token_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 wire-form parity with the reference's ACTUAL timestamp decoder
    (updateTimeStamp, internal/gfs/statarchive.go:296-316): per-series
    sorted timestamps packed as <252-inline / 252+u16 / u32 delta tokens,
    decoded back, multiset-compared to the identity oracle."""
    import numpy as np
    import pandas as pd

    from . import codecs
    from .chunks import group_starts

    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        )
        .repartition("event_type")
        .sortWithinPartitions("event_type", "ts_ms")
    )

    def rt(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            starts = group_starts(pdf, ["event_type"])
            ends = np.append(starts[1:], len(pdf))
            t = pdf["ts_ms"].to_numpy(np.int64)
            outs = []
            for s, e in zip(starts, ends):
                buf = codecs.ts_token_encode(t[s:e])
                outs.append(codecs.ts_token_decode(buf, e - s))
            yield pd.DataFrame(
                {
                    "event_type": pdf["event_type"].to_numpy(),
                    "ts_ms": np.concatenate(outs),
                }
            )

    return (
        ev.mapInPandas(rt, "event_type string, ts_ms bigint")
        .groupBy("event_type", "ts_ms")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "resource_id_roundtrip",
    """
SELECT (user_id * 131) % 100000 AS rid, count(*) AS n_ids
FROM events GROUP BY 1
""",
)
def resource_id_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 compact resource-instance-id parity: ids spanning all three wire
    widths (inline 0..252 / 253+u16 / 254+u32, 255-terminated — the form the
    reference's sample loop walks at internal/gfs/statarchive.go:1330-1345)
    are packed per Arrow batch, decoded back, and the multiset compared to
    the identity oracle."""
    import numpy as np
    import pandas as pd

    from . import codecs

    ids = load(spark, sf_dir, "events").select(
        ((F.col("user_id") * 131) % 100000).alias("rid")
    )

    def rt(batches):
        for pdf in batches:
            v = pdf["rid"].to_numpy(np.int64)
            back = codecs.resource_id_decode(codecs.resource_id_encode(v))
            yield pd.DataFrame({"rid": back})

    return (
        ids.mapInPandas(rt, "rid bigint")
        .groupBy("rid")
        .agg(F.count(F.lit(1)).alias("n_ids"))
    )


@query(
    "cluster_node_rollup",
    """
WITH pathed AS (
    SELECT '/data/' ||
           CASE user_id % 3 WHEN 0 THEN 'prod-east' WHEN 1 THEN 'staging-eu'
                            ELSE 'dev-local' END || '/' ||
           CASE user_id % 4 WHEN 0 THEN 'server-01' WHEN 1 THEN 'locator-02'
                            WHEN 2 THEN 'gateway-03' ELSE 'box-04' END ||
           '/stats/archive.gfs' AS _path,
           value
    FROM events
), labeled AS (
    SELECT regexp_extract(_path, '.*/([^/]+)/stats/[^/]*$', 1) AS node,
           regexp_extract(_path, '.*/([^/]+)/[^/]+/stats/[^/]*$', 1) AS cluster,
           _path, value
    FROM pathed
)
SELECT cluster, node,
       -- the reference checks node name AND full path (processor.go:200-217)
       CASE WHEN contains(lower(node || '/' || _path), 'locator') THEN 'locator'
            WHEN contains(lower(node || '/' || _path), 'gateway') THEN 'gateway'
            ELSE 'server' END AS node_type,
       CASE WHEN contains(lower(cluster), 'prod') THEN 'production'
            WHEN contains(lower(cluster), 'stag') THEN 'staging'
            WHEN contains(lower(cluster), 'dev') THEN 'development'
            WHEN contains(lower(cluster), 'test') THEN 'test'
            ELSE 'unknown' END AS environment,
       count(*) AS n_samples,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_micro
FROM labeled
GROUP BY 1, 2, 3, 4
""",
)
def cluster_node_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5/P6 end-to-end label extraction (cluster.enrich_with_node_labels,
    mirroring /root/reference/internal/cluster/processor.go:171-217): node
    from the stats-dir parent, cluster from the grandparent, node type and
    environment by substring — then a per-node aggregate. The oracle
    recomputes the same extraction in SQL over identically-built paths."""
    from .cluster import enrich_with_node_labels

    ev = load(spark, sf_dir, "events").withColumn(
        "_path",
        F.concat(
            F.lit("/data/"),
            F.element_at(
                F.array(F.lit("prod-east"), F.lit("staging-eu"), F.lit("dev-local")),
                (F.col("user_id") % 3 + 1).cast("int"),
            ),
            F.lit("/"),
            F.element_at(
                F.array(
                    F.lit("server-01"), F.lit("locator-02"),
                    F.lit("gateway-03"), F.lit("box-04"),
                ),
                (F.col("user_id") % 4 + 1).cast("int"),
            ),
            F.lit("/stats/archive.gfs"),
        ),
    )
    lab = enrich_with_node_labels(ev)
    return lab.groupBy("cluster", "node", "node_type", "environment").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(micro("value")).alias("sum_micro"),
    )


@query(
    "mutf8_series_roundtrip",
    """
SELECT 'café—序列🚀·' || event_type AS series_key, epoch_ms(ts) AS ts_ms,
       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS value_long
FROM events
""",
)
def mutf8_series_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 modified-UTF8 (Java writeUTF) parity: series names with accents,
    CJK, and a supplementary (surrogate-pair) character ride INSIDE the
    binary record as [u16 BE len][modified UTF-8] — the form the reference
    reads at internal/gfs/statarchive.go:269-294 — and must roundtrip
    bit-exactly through the wire bytes. Oracle: identity projection."""
    from .sources import gfs_binary

    ev = load(spark, sf_dir, "events").select(
        F.concat(F.lit("café—序列🚀·"), F.col("event_type")).alias("series_key"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        micro("value").alias("value_long"),
    )
    return gfs_binary.decode_archive(gfs_binary.encode_archive(ev))


@query(
    "sessionize_users",
    """
WITH marks AS (
    SELECT user_id, ts, value,
           CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                     OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT user_id, ts, value,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM marks
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(epoch_ms(ts)) AS session_start_ms,
       max(epoch_ms(ts)) AS session_end_ms,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
FROM sess GROUP BY 1, 2
""",
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min inactivity gap) via lag + cumulative-sum
    session ids — the batch shape of Structured Streaming's
    session_window, fully JVM-side."""
    from .timeutil import epoch_ms

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    is_new = F.when(
        (epoch_ms("ts") - F.lag(epoch_ms("ts")).over(w) > 1_800_000)
        | F.lag("ts").over(w).isNull(),
        1,
    ).otherwise(0)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(epoch_ms("ts")).alias("session_start_ms"),
        F.max(epoch_ms("ts")).alias("session_end_ms"),
        F.sum(micro("value")).alias("sum_micro"),
    )


@query(
    "sliding_rate_15m",
    f"""
WITH b AS (
    SELECT event_type, (epoch_ms(ts) // 300000) * 300000 AS bucket_ms,
           CAST(sum({sql_micro('value')}) AS BIGINT) AS inc
    FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_ms,
       CAST(sum(inc) OVER (PARTITION BY event_type ORDER BY bucket_ms
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS inc_15m,
       CAST(sum(inc) OVER (PARTITION BY event_type ORDER BY bucket_ms
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / 900.0 AS rate_15m
FROM b
""",
)
def sliding_rate_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window rate at every 5m point (the PromQL rate(m[15m])
    evaluation shape): tumbling partials + a 3-row sliding frame — partial
    aggregation bounds the window input, never raw samples.
    NOTE: frame is row-based over OBSERVED buckets (matches the oracle);
    a gap-free variant composes with gapfill.grid()."""
    ev = load(spark, sf_dir, "events")
    from .timeutil import bucket_ms

    b = ev.groupBy(
        "event_type", bucket_ms("ts", 300).alias("bucket_ms")
    ).agg(F.sum(micro("value")).alias("inc"))
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket_ms")
        .rowsBetween(-2, 0)
    )
    inc15 = F.sum("inc").over(w)
    return b.select(
        "event_type",
        "bucket_ms",
        inc15.alias("inc_15m"),
        (inc15.cast("double") / 900.0).alias("rate_15m"),
    )


@query(
    "pivot_type_by_day",
    f"""
SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
       CAST(sum(CASE WHEN event_type = 'click'    THEN {sql_micro('value')} ELSE 0 END) AS BIGINT) AS click_micro,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN {sql_micro('value')} ELSE 0 END) AS BIGINT) AS purchase_micro,
       CAST(sum(CASE WHEN event_type = 'error'    THEN {sql_micro('value')} ELSE 0 END) AS BIGINT) AS error_micro
FROM events GROUP BY 1
""",
)
def pivot_type_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide metrics table), one hash agg — the dashboard
    panel shape."""
    from .timeutil import bucket_ms

    ev = load(spark, sf_dir, "events")
    p = (
        ev.groupBy(bucket_ms("ts", 86400).alias("day_ms"))
        .pivot("event_type", ["click", "purchase", "error"])
        .agg(F.sum(micro("value")))
    )
    # coalesce OUTSIDE the pivot agg: a day with zero rows of a type gets
    # no agg invocation at all (NULL cell), matching the oracle's ELSE 0
    # only if the default is applied to the pivoted column itself
    return p.select(
        "day_ms",
        *[
            F.coalesce(F.col(t), F.lit(0).cast("long")).alias(f"{t}_micro")
            for t in ("click", "purchase", "error")
        ],
    )


@query(
    "intersect_users",
    """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: users who both click and purchase."""
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


@query(
    "except_user_days",
    """
SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000 AS day_ms
FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000
FROM events WHERE event_type = 'purchase'
""",
)
def except_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: (user, day) pairs with clicks but no purchase. subtract()
    is SQL's set EXCEPT (exceptAll would be bag difference — leftover
    multiplicities would leak through)."""
    from .timeutil import bucket_ms

    ev = load(spark, sf_dir, "events")
    day = bucket_ms("ts", 86400).alias("day_ms")
    a = ev.filter(F.col("event_type") == "click").select("user_id", day)
    b = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return a.subtract(b)


@query(
    "asof_join_purchases",
    """
SELECT a.user_id, epoch_ms(a.ts) AS click_ts_ms, b.value AS asof_value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') a
ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b
ON a.user_id = b.user_id AND a.ts >= b.ts
""",
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the time-series join Spark lacks as a primitive): each
    click gets the user's most recent purchase value at-or-before it.
    Implemented as union + tagged LOCF window (operators/joins.py) — one
    shuffle on the key; the oracle uses DuckDB's native ASOF JOIN."""
    from .operators.joins import asof_join
    from .timeutil import epoch_ms

    ev = load(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "click").select(
        "user_id", epoch_ms("ts").alias("ts_ms")
    )
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_ms("ts").alias("ts_ms"), "value"
    )
    out = asof_join(probe, build, on=["user_id"], ts="ts_ms", value_cols=["value"])
    return out.select(
        "user_id",
        F.col("ts_ms").alias("click_ts_ms"),
        F.col("asof_value").alias("asof_value"),
    )


@query(
    "range_join_clicks_after_purchase",
    """
SELECT i.user_id, epoch_ms(i.ts) AS purchase_ts_ms, count(p.ts) AS clicks_within_1h
FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') i
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') p
  ON i.user_id = p.user_id
 AND epoch_ms(p.ts) >= epoch_ms(i.ts)
 AND epoch_ms(p.ts) <  epoch_ms(i.ts) + 3600000
GROUP BY 1, 2
""",
)
def range_join_clicks_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: clicks within 1h after each purchase. The
    interval side explodes to overlapping hour buckets and equi-joins on
    (key, bucket) + exact refine (operators/joins.py) — a hash join where
    a naive theta join would be broadcast-nested-loop. Left-outer
    semantics recovered by re-joining counts onto all intervals."""
    from .operators.joins import range_join_buckets
    from .timeutil import epoch_ms

    ev = load(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        epoch_ms("ts").alias("start_ms"),
        (epoch_ms("ts") + 3_600_000).alias("end_ms"),
    )
    pts = ev.filter(F.col("event_type") == "click").select(
        "user_id", epoch_ms("ts").alias("ts_ms")
    )
    matched = range_join_buckets(pts, iv, on=["user_id"]).groupBy(
        "user_id", "start_ms"
    ).agg(F.count(F.lit(1)).alias("clicks_within_1h"))
    out = (
        iv.join(matched, ["user_id", "start_ms"], "left")
        .select(
            "user_id",
            F.col("start_ms").alias("purchase_ts_ms"),
            F.coalesce("clicks_within_1h", F.lit(0)).alias("clicks_within_1h"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# PromQL instant estimators + over-time family (round 3)
# ---------------------------------------------------------------------------

_MICRO = "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"

_IRATE_SQL = f"""
WITH dedup AS (
    SELECT event_type, ts, max(value) AS value FROM events GROUP BY 1, 2
), pts AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           epoch_ms(ts) AS t, {_MICRO} AS v
    FROM dedup
), lagged AS (
    SELECT event_type, bucket_ms, t, v,
           lag(v) OVER (PARTITION BY event_type, bucket_ms ORDER BY t) AS pv,
           lag(t) OVER (PARTITION BY event_type, bucket_ms ORDER BY t) AS pt,
           row_number() OVER (
               PARTITION BY event_type, bucket_ms ORDER BY t DESC) AS rn
    FROM pts
)
SELECT event_type, bucket_ms,
       CASE WHEN pv IS NULL THEN NULL
            ELSE CAST(CASE WHEN v >= pv THEN v - pv ELSE v END AS DOUBLE)
                 * CAST(1000.0 AS DOUBLE) / CAST(t - pt AS DOUBLE)
       END AS irate_micro_per_s
FROM lagged WHERE rn = 1
"""


@query("irate_1h", _IRATE_SQL)
def irate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL irate(m[1h]): last-two-samples per-second rate with the
    counter-reset rule; NULL for single-sample buckets."""
    from .rate import irate

    return irate(load(spark, sf_dir, "events"), 3600)


_IDELTA_SQL = f"""
WITH dedup AS (
    SELECT event_type, ts, max(value) AS value FROM events GROUP BY 1, 2
), pts AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           epoch_ms(ts) AS t, {_MICRO} AS v
    FROM dedup
), lagged AS (
    SELECT event_type, bucket_ms, v,
           lag(v) OVER (PARTITION BY event_type, bucket_ms ORDER BY t) AS pv,
           row_number() OVER (
               PARTITION BY event_type, bucket_ms ORDER BY t DESC) AS rn
    FROM pts
)
SELECT event_type, bucket_ms, CAST(v - pv AS BIGINT) AS idelta_micro
FROM lagged WHERE rn = 1
"""


@query("idelta_1h", _IDELTA_SQL)
def idelta_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL idelta(m[1h]): difference of the last two samples per
    series bucket (gauge counterpart of irate)."""
    from .rate import idelta

    return idelta(load(spark, sf_dir, "events"), 3600)


_OVER_TIME_SQL = f"""
SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       CAST(min({_MICRO}) AS BIGINT) AS min_micro,
       CAST(max({_MICRO}) AS BIGINT) AS max_micro,
       CAST(sum({_MICRO}) AS BIGINT) AS sum_micro,
       count(*) AS n_samples
FROM events GROUP BY 1, 2
"""


@query("over_time_aggs_1h", _OVER_TIME_SQL)
def over_time_aggs_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL min/max/sum/count_over_time(m[1h]) in one pass."""
    from .rate import over_time_aggs

    return over_time_aggs(load(spark, sf_dir, "events"), 3600)


_STDDEV_SQL = f"""
WITH agg AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           count(*) AS n,
           sum(CAST({_MICRO} AS HUGEINT)) AS s1,
           sum(CAST({_MICRO} AS HUGEINT) * {_MICRO}) AS s2
    FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_ms,
       sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / CAST(n AS DOUBLE)
           AS stddev_micro
FROM agg
"""


@query("stddev_over_time_1h", _STDDEV_SQL)
def stddev_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL stddev_over_time(m[1h]): population stddev from exact
    integer moments (decimal(38,0) == HUGEINT), one double sqrt/division."""
    from .rate import stddev_over_time

    return stddev_over_time(load(spark, sf_dir, "events"), 3600)


_PREDICT_SQL = f"""
WITH pts AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           epoch_ms(ts) - (epoch_ms(ts) // 3600000) * 3600000 AS x,
           {_MICRO} AS y
    FROM events
), agg AS (
    SELECT event_type, bucket_ms, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx
    FROM pts GROUP BY 1, 2
)
SELECT event_type, bucket_ms,
       CASE WHEN n < 2
                 OR CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
            THEN NULL
            ELSE (CAST(sy AS DOUBLE)
                  + CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                         AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                           AS DOUBLE)
                    * (CAST(n AS DOUBLE) * 5400000.0 - CAST(sx AS DOUBLE)))
                 / CAST(n AS DOUBLE)
       END AS predicted_micro
FROM agg
"""


@query("predict_linear_1h", _PREDICT_SQL)
def predict_linear_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL predict_linear(m[1h], 1800): least-squares extrapolation 30
    minutes past the bucket end — exact integer moments, one fixed double
    expression (bit-exact vs the oracle)."""
    from .rate import predict_linear

    return predict_linear(load(spark, sf_dir, "events"), 3600, 1800)


@query(
    "label_rewrite_select",
    """
WITH keyed AS (
    SELECT event_type AS et, count(*) AS n FROM events GROUP BY 1
)
SELECT CASE WHEN et LIKE 'p%'
            THEN 'requests{env=prod,family=' || et || ',id=prod-' || et
                 || ',type=' || et || '}'
            ELSE 'requests{env=prod,id=prod-,type=' || et || '}'
       END AS series_key,
       n
FROM keyed
""",
)
def label_rewrite_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL label_replace + label_join over canonical series keys:
    family <- type when it matches ^(p.*)$ (non-matching series pass
    through UNCHANGED, per PromQL), then id <- join(env, family, '-'),
    labels re-sorted alphabetically on every rewrite. The oracle predicts
    the rewritten keys in closed form, so any defect in the split/filter/
    sort/rebuild machinery (or the no-match pass-through) mismatches."""
    from .naming import label_join, label_replace

    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.concat(
            F.lit("requests{env=prod,type="), F.col("event_type"), F.lit("}")
        ).alias("series_key")
    )
    k1 = label_replace(
        F.col("series_key"), dst="family", replacement="$1", src="type",
        regex="(p.*)",
    )
    k2 = label_join(k1, dst="id", sep="-", srcs=["env", "family"])
    return keyed.select(k2.alias("series_key")).groupBy("series_key").agg(
        F.count(F.lit(1)).alias("n")
    )


_QOT_SQL = """
WITH s AS (
    SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           value,
           row_number() OVER (
               PARTITION BY event_type, (epoch_ms(ts) // 3600000)
               ORDER BY value) - 1 AS rn,
           count(*) OVER (
               PARTITION BY event_type, (epoch_ms(ts) // 3600000)) AS n
    FROM events
)
SELECT event_type, bucket_ms,
       min(CASE WHEN rn = CAST(floor((n-1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
                THEN value END)
       + ((n-1) * CAST(0.5 AS DOUBLE)
          - floor((n-1) * CAST(0.5 AS DOUBLE)))
         * (min(CASE WHEN rn = CAST(ceil((n-1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
                     THEN value END)
            - min(CASE WHEN rn = CAST(floor((n-1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
                       THEN value END))
           AS q50
FROM s GROUP BY event_type, bucket_ms, n
"""


@query("quantile_over_time_1h", _QOT_SQL)
def quantile_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL quantile_over_time(0.5, m[1h]): exact per-bucket quantile
    with PromQL's linear interpolation (rank = q*(n-1)), the explicit
    rank/blend formula so both engines produce bit-identical doubles.
    (The at-scale fixed-memory estimator is histogram_quantile; this is
    the exact form, same trade as A8's p95.)"""
    ev = load(spark, sf_dir, "events")
    from .timeutil import bucket_ms

    b = bucket_ms("ts", 3600)
    w = W.partitionBy("event_type", b).orderBy("value")
    s = ev.select(
        "event_type",
        b.alias("bucket_ms"),
        "value",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type", b)).alias("n"),
    )
    k = (F.col("n") - 1) * F.lit(0.5)
    lo = F.min(F.when(F.col("rn") == F.floor(k).cast("long"), F.col("value")))
    hi = F.min(F.when(F.col("rn") == F.ceil(k).cast("long"), F.col("value")))
    frac = k - F.floor(k)
    return (
        s.groupBy("event_type", "bucket_ms", "n")
        .agg((lo + frac * (hi - lo)).alias("q50"))
        .select("event_type", "bucket_ms", "q50")
    )


@query(
    "bottomk5_users",
    f"""
WITH agg AS (
    SELECT event_type, user_id,
           CAST(sum({sql_micro('value')}) AS BIGINT) AS sum_micro
    FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, sum_micro, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY sum_micro ASC, user_id ASC
    ) AS rank FROM agg
) WHERE rank <= 5
""",
)
def bottomk5_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL bottomk(5, sum by (user)) per event_type."""
    from . import rollup as rollup_mod

    return rollup_mod.bottomk(
        load(spark, sf_dir, "events").withColumn("sum_micro", micro("value")),
        k=5,
        by=["user_id"],
        rank_within=["event_type"],
    )


@query(
    "present_over_time_1h",
    """
SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       CAST(1 AS BIGINT) AS present
FROM events GROUP BY 1, 2
""",
)
def present_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL present_over_time(m[1h]): 1 for every (series, bucket) with
    at least one sample (the grid + anti-join gives absent())."""
    from .timeutil import bucket_ms

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", bucket_ms("ts", 3600).alias("bucket_ms"))
        .agg(F.lit(1).cast("long").alias("present"))
    )


@query(
    "count_values_1h",
    f"""
SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       {sql_micro('value')} AS value_micro, count(*) AS n
FROM events GROUP BY 1, 2, 3
""",
)
def count_values_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL count_values("v", m[1h]): occurrences per distinct value per
    (series, bucket) — int64-micro keys so value equality is exact."""
    from .timeutil import bucket_ms

    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        bucket_ms("ts", 3600).alias("bucket_ms"),
        micro("value").alias("value_micro"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "tpch_q6",
    f"""
SELECT CAST(sum({sql_micro('l_extendedprice * l_discount')}) AS BIGINT)
           AS revenue_micro,
       count(*) AS cnt
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN CAST(0.03 AS DOUBLE) AND CAST(0.09 AS DOUBLE)
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pushdown showcase — every predicate reaches the
    parquet scan (PushedFilters on shipdate/discount/quantity), a single
    global agg, no shuffle beyond the final 1-row combine."""
    li = load(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.09)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(micro(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue_micro"
        ),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "tpch_q3",
    f"""
SELECT l.l_orderkey,
       CAST(sum({sql_micro('l.l_extendedprice * (1 - l.l_discount)')}) AS BIGINT)
           AS revenue_micro,
       epoch_ms(o.o_orderdate) AS orderdate_ms
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate  > DATE '1995-03-15'
GROUP BY 1, 3
ORDER BY revenue_micro DESC, l_orderkey ASC
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast the SMALL dim only (customer, ~150k
    rows/SF after the segment filter) into orders; orders⋈lineitem are
    both fact-scale (the date filter keeps ~half of orders — at 100x a
    broadcast there OOMs every executor), so that join runs as a shuffle
    hash join on the equi-key l_orderkey (AQE picks SMJ/SHJ at runtime).
    Group on the join key, TakeOrdered top-10 (never a global sort).
    Plan-asserted: no BroadcastExchange on the orders/lineitem inputs
    (tests/test_bucketing.py::test_tpch_q3_no_fact_broadcast)."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    from .timeutil import epoch_ms

    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    j = (
        li.join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
    )
    return (
        j.groupBy("l_orderkey", epoch_ms("o_orderdate").alias("orderdate_ms"))
        .agg(F.sum(micro(rev)).alias("revenue_micro"))
        .select("l_orderkey", "revenue_micro", "orderdate_ms")
        .orderBy(F.desc("revenue_micro"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "histogram_stats",
    f"""
SELECT event_type,
       CAST(sum({sql_micro('value')}) AS BIGINT) AS hist_sum_micro,
       count(*) AS hist_count,
       CAST(CAST(sum({sql_micro('value')}) AS BIGINT) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS hist_avg_micro
FROM events GROUP BY 1
""",
)
def histogram_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL histogram_sum/_count/_avg companions per series."""
    from .histogram import histogram_stats

    return histogram_stats(load(spark, sf_dir, "events"))


# -- api.Engine end-to-end (the composed query path, oracle-gated) ----------

_ENG_START_MS = 1_704_844_800_000  # 2024-01-10T00:00Z (hour-aligned)
_ENG_END_MS = 1_705_708_800_000    # 2024-01-20T00:00Z
_ENG_OFF_MS = 86_400_000           # offset 1d (multiple of the 1h step)


@query(
    "engine_sum_1h_offset",
    f"""
SELECT ((epoch_ms(ts) // 3600000) * 3600000) + {_ENG_OFF_MS} AS bucket_ms,
       CAST(sum({sql_micro('value')}) AS BIGINT) AS sum_micro
FROM events
WHERE event_type IN ('click', 'view')
  AND epoch_ms(ts) >= {_ENG_START_MS} - {_ENG_OFF_MS}
  AND epoch_ms(ts) <  {_ENG_END_MS} - {_ENG_OFF_MS}
GROUP BY 1
""",
)
def engine_sum_1h_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full user-facing API path in one query: materialize the 5m tier
    + the 1h tier (merged from 5m, never from raw) to a TSDB root on disk,
    then Engine.range_query composes PromQL select ({__name__, type=~re}
    matchers over 'metric{k=v}' series keys) -> tier routing (1h step ->
    1h tier) -> offset modifier (evaluate 1d in the past, report at the
    requested buckets) -> sum across the matched series (by=[]).

    This gates the COMPOSED surface (reference README.md:146-158 dashboard
    queries) end-to-end: tier files on disk, matcher pushdown into the
    scan, offset arithmetic, cross-series aggregation — not just the
    operators in isolation."""
    import hashlib
    import tempfile

    from .api import Engine
    from .rollup import rollup, rollup_merge

    ev = load(spark, sf_dir, "events").select(
        F.concat(
            F.lit("events_value{type="), F.col("event_type"), F.lit("}")
        ).alias("series_key"),
        "ts",
        "value",
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_engine_e2e_{tag}")
    r5 = rollup(ev, 300, series=("series_key",))
    r5.write.mode("overwrite").parquet(os.path.join(root, "rollup_5m"))
    r5d = spark.read.parquet(os.path.join(root, "rollup_5m"))
    rollup_merge(r5d, 3600, series=("series_key",)).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "rollup_1h"))
    eng = Engine(spark, root)
    out = eng.range_query(
        "sum",
        step="1h",
        by=[],
        start_ms=_ENG_START_MS,
        end_ms=_ENG_END_MS,
        offset_s=_ENG_OFF_MS // 1000,
        matchers={"__name__": "events_value", "type": "=~click|view"},
    )
    return out.select("bucket_ms", F.col("sum").alias("sum_micro"))


@query(
    "engine_rate_5m",
    f"""
WITH c AS (
    SELECT event_type AS series_key, ts,
           sum({sql_micro('value')}) OVER (
               PARTITION BY event_type ORDER BY ts
           ) % 10000000000 AS counter
    FROM events
), d AS (
    SELECT series_key, ts, counter,
           lag(counter) OVER (PARTITION BY series_key ORDER BY ts) AS prev
    FROM c
)
SELECT series_key,
       (epoch_ms(ts) // 300000) * 300000 AS bucket_ms,
       CAST(sum(CASE WHEN prev IS NULL THEN 0
                WHEN counter >= prev THEN counter - prev
                ELSE counter END) AS BIGINT) AS increase,
       CAST(sum(CASE WHEN prev IS NULL THEN 0
                WHEN counter >= prev THEN counter - prev
                ELSE counter END) AS DOUBLE) / 300.0 AS rate
FROM d
GROUP BY 1, 2
""",
)
def engine_rate_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine.rate end-to-end: counter samples -> Gorilla/DoD CHUNKS ON
    DISK -> Engine decodes the chunk tier and computes the
    reset-corrected rate. Gates the full raw-chunks read path of the API
    (decode is bit-exact, so the rate equals the one computed from the
    raw samples — which is what the oracle does)."""
    import hashlib
    import tempfile

    from . import chunks as chunks_mod
    from .api import Engine

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("series_key").orderBy("ts")
    c = ev.select(
        F.col("event_type").alias("series_key"), "ts", "value"
    ).select(
        "series_key",
        "ts",
        (F.sum(micro("value")).over(w) % F.lit(10_000_000_000))
        .cast("double")
        .alias("value"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_engine_rate_{tag}")
    chunks_mod.encode_chunks(c, series=("series_key",)).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "chunks"))
    out = Engine(spark, root).rate("5m")
    # chunk values are double, so the summed increase comes back double;
    # the counter is integral micro units stored exactly, so the cast is
    # lossless and restores the oracle's BIGINT schema
    return out.withColumn("increase", F.col("increase").cast("long"))


_INST_AT_MS = 1_705_276_800_000   # 2024-01-15T00:00Z
_INST_OFF_S = 86_400              # offset 1d -> evaluates at Jan 14
_INST_LOOKBACK_S = 3_600


@query(
    "engine_instant_offset",
    f"""
WITH s AS (
    SELECT event_type AS series_key, ts, value,
           (epoch_ms(ts) // 300000) * 300000 AS bucket_ms
    FROM events
)
SELECT series_key,
       arg_max(value, epoch_ms(ts)) AS value,
       max(epoch_ms(ts)) AS as_of_ms
FROM s
WHERE bucket_ms <= {_INST_AT_MS} - {_INST_OFF_S * 1000}
  AND bucket_ms >  {_INST_AT_MS} - {_INST_OFF_S * 1000} - {_INST_LOOKBACK_S * 1000}
GROUP BY 1
""",
)
def engine_instant_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine.instant end-to-end: the PromQL instant vector (staleness
    lookback + offset modifier) served from the materialized 5m tier on
    disk. The tier's (last, last_ts_ms) carry makes the point-in-time
    answer a tier-only read — no raw-sample scan at query time."""
    import hashlib
    import tempfile

    from .api import Engine
    from .rollup import rollup

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_key"), "ts", "value"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_engine_inst_{tag}")
    rollup(ev, 300, series=("series_key",)).write.mode("overwrite").parquet(
        os.path.join(root, "rollup_5m")
    )
    return Engine(spark, root).instant(
        _INST_AT_MS, lookback_s=_INST_LOOKBACK_S, offset_s=_INST_OFF_S
    )


# -- previously pytest-only lifecycles, upgraded to oracle gates ------------

_ROLLUP_1H_ALL_SQL = f"""
SELECT event_type AS series_key,
       (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       min(value) AS vmin,
       max(value) AS vmax,
       CAST(sum({sql_micro('value')}) AS BIGINT) AS sum_micro,
       count(*) AS cnt,
       arg_max(value, ts) AS last,
       max(epoch_ms(ts)) AS last_ts_ms
FROM events GROUP BY 1, 2
"""


@query("late_merge_tier_1h", _ROLLUP_1H_ALL_SQL)
def late_merge_tier_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The late-data MERGE's correctness CONTRACT as an oracle: split the
    input deterministically into on-time (90%) and late (10%) samples,
    materialize tiers from the on-time part, MERGE the late samples in
    (partition-local, two-phase staged — late.py), and the resulting 1h
    tier must equal a direct rollup of ALL samples. Previously only a
    pytest law; now the driver gate checks it value-for-value."""
    import hashlib
    import tempfile

    from . import late as late_mod
    from .checkpoint import write_partitioned
    from .operators.hashing import md5_lower64
    from .rollup import rollup, rollup_merge

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_key"), "ts", "value"
    )
    is_late = (
        F.pmod(
            md5_lower64(F.unix_millis(F.col("ts").cast("timestamp")).cast("string")),
            F.lit(10),
        )
        == 0
    )
    ontime, late = ev.filter(~is_late), ev.filter(is_late)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_late_merge_{tag}")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    r5 = rollup(ontime, 300, series=("series_key",))
    part = F.date_format(F.timestamp_millis("bucket_ms"), "yyyy-MM-dd")
    write_partitioned(r5.withColumn("part", part), root, "rollup_5m")
    r5d = spark.read.parquet(os.path.join(root, "rollup_5m"))
    for tbl, step in (("rollup_1h", 3600), ("rollup_1d", 86400)):
        t = rollup_merge(r5d, step, series=("series_key",))
        write_partitioned(t.withColumn("part", part), root, tbl)
    late_mod.merge_late_samples(spark, root, late, series=("series_key",))
    out = spark.read.parquet(os.path.join(root, "rollup_1h"))
    return out.select(
        "series_key", "bucket_ms", "vmin", "vmax", "sum_micro", "cnt",
        "last", "last_ts_ms",
    )


@query(
    "retention_surviving_parts",
    """
WITH days AS (
    SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS part FROM events
), mx AS (
    SELECT max(part) AS today FROM days
)
SELECT 'chunks' AS tbl, part FROM days, mx
WHERE part >= CAST(CAST(today AS DATE) - 7 AS VARCHAR)
UNION ALL
SELECT 'rollup_5m', part FROM days, mx
WHERE part >= CAST(CAST(today AS DATE) - 14 AS VARCHAR)
UNION ALL
SELECT 'rollup_1h', part FROM days, mx
WHERE part >= CAST(CAST(today AS DATE) - 25 AS VARCHAR)
UNION ALL
SELECT 'rollup_1d', part FROM days
""",
)
def retention_surviving_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered retention (W4) as an oracle gate: materialize all four tier
    tables day-partitioned, APPLY the per-tier horizons (7/14/25/∞ days
    from the newest day — metadata-only partition drops), then report
    what actually SURVIVES ON DISK. The oracle predicts the surviving
    (table, part) set from the raw data's day range."""
    import hashlib
    import shutil
    import tempfile

    from . import chunks as chunks_mod, retention
    from .checkpoint import write_partitioned
    from .rollup import rollup, rollup_merge

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_key"), "ts", "value"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_retention_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    part = F.date_format(F.timestamp_millis("bucket_ms"), "yyyy-MM-dd")
    ch = chunks_mod.encode_chunks(ev, series=("series_key",)).withColumn(
        "part", F.date_format(F.timestamp_millis("block_start_ms"), "yyyy-MM-dd")
    )
    write_partitioned(ch, root, "chunks")
    r5 = rollup(ev, 300, series=("series_key",))
    write_partitioned(r5.withColumn("part", part), root, "rollup_5m")
    r5d = spark.read.parquet(os.path.join(root, "rollup_5m"))
    for tbl, step in (("rollup_1h", 3600), ("rollup_1d", 86400)):
        write_partitioned(
            rollup_merge(r5d, step, series=("series_key",)).withColumn(
                "part", part
            ),
            root,
            tbl,
        )
    today = max(retention.list_parts(root, "rollup_1d"))
    policy = retention.RetentionPolicy(
        {"chunks": 7, "rollup_5m": 14, "rollup_1h": 25, "rollup_1d": None}
    )
    retention.apply_retention(root, policy, today)
    rows = [
        (tbl, p)
        for tbl in ("chunks", "rollup_5m", "rollup_1h", "rollup_1d")
        for p in retention.list_parts(root, tbl)
    ]
    return spark.createDataFrame(
        __import__("pandas").DataFrame(rows, columns=["tbl", "part"]),
        "tbl string, part string",
    )


# -- PromQL long tail: holt_winters / clamp / sort_desc (round 5) -----------

# holt_winters oracle: same recurrence, same IEEE op order, via a recursive
# CTE (one step per sample index). NOT list_reduce: DuckDB 1.0 evaluates
# struct-literal lambda fields SEQUENTIALLY, so `acc.s` inside the 'b'
# field resolves to the freshly-computed 's' — a silent semantics trap
# (verified empirically; the recursive CTE has no such aliasing).
_HW_SQL = """
WITH RECURSIVE pts AS (
    SELECT event_type,
           (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           CAST(value AS DOUBLE) AS v,
           row_number() OVER (
               PARTITION BY event_type, epoch_ms(ts) // 3600000 ORDER BY ts
           ) AS i,
           count(*) OVER (
               PARTITION BY event_type, epoch_ms(ts) // 3600000
           ) AS cnt,
           lead(CAST(value AS DOUBLE)) OVER (
               PARTITION BY event_type, epoch_ms(ts) // 3600000 ORDER BY ts
           ) AS v_next
    FROM events
),
rec AS (
    SELECT event_type, bucket_ms, cnt, i, v AS s, v_next - v AS b
    FROM pts WHERE i = 1 AND cnt >= 2
    UNION ALL
    SELECT p.event_type, p.bucket_ms, p.cnt, p.i,
           CAST(0.25 AS DOUBLE) * p.v
               + CAST(0.75 AS DOUBLE) * (r.s + r.b) AS s,
           CAST(0.125 AS DOUBLE) * (
               CAST(0.25 AS DOUBLE) * p.v
                   + CAST(0.75 AS DOUBLE) * (r.s + r.b) - r.s
           ) + CAST(0.875 AS DOUBLE) * r.b AS b
    FROM rec r
    JOIN pts p ON p.event_type = r.event_type
              AND p.bucket_ms = r.bucket_ms AND p.i = r.i + 1
)
SELECT event_type, bucket_ms, s AS smoothed
FROM rec WHERE i = cnt
UNION ALL
SELECT DISTINCT event_type, bucket_ms, CAST(NULL AS DOUBLE) AS smoothed
FROM pts WHERE cnt < 2
"""


@query("holt_winters_1h", _HW_SQL)
def holt_winters_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL holt_winters(m[1h], 0.25, 0.125): double exponential
    smoothing, Prometheus evaluation order (promql/functions.go). The
    smoothing factors are dyadic (exact doubles), every fold step is a
    fixed chain of IEEE ops replayed identically by the oracle's
    recursive CTE — bit-exact, no tolerance."""
    from .rate import holt_winters

    return holt_winters(load(spark, sf_dir, "events"), 3600, 0.25, 0.125)


@query(
    "clamp_value_5m",
    """
SELECT event_type,
       epoch_ms(ts) AS ts_ms,
       greatest(least(CAST(value AS DOUBLE), CAST(75.0 AS DOUBLE)),
                CAST(25.0 AS DOUBLE)) AS clamped
FROM events
""",
)
def clamp_value_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL clamp(v, 25, 75) — per-sample, scan-local (no shuffle;
    clamp_min/clamp_max are the one-sided calls of the same operator)."""
    from .rate import clamp
    from .timeutil import epoch_ms

    ev = load(spark, sf_dir, "events")
    return clamp(ev, vmin=25.0, vmax=75.0).select(
        "event_type", epoch_ms("ts").alias("ts_ms"), "clamped"
    )


@query(
    "sort_desc_instant",
    f"""
WITH inst AS (
    SELECT event_type,
           arg_max(value, ts) AS value
    FROM events GROUP BY 1
)
SELECT row_number() OVER (ORDER BY value DESC, event_type ASC) AS rank,
       event_type, value
FROM inst
""",
)
def sort_desc_instant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL sort_desc() over the instant vector of last-sample values:
    1-based rank by value descending, series-key tiebreak. The global
    window is one row per SERIES (driver-sized by definition), the same
    single-partition shape as sorted listings — never per-sample."""
    from .rate import sort_desc

    ev = load(spark, sf_dir, "events")
    inst = ev.groupBy("event_type").agg(
        F.max_by("value", "ts").alias("value")
    )
    return sort_desc(inst, value="value", series=("event_type",)).select(
        "rank", "event_type", "value"
    )


@query(
    "engine_rate_sum_by_5m",
    f"""
WITH s AS (
    SELECT 'proc_total{{node=n' || (user_id % 3) || ',type=' || event_type
               || '}}' AS series_key,
           'n' || (user_id % 3) AS node, ts, value
    FROM events
), c AS (
    SELECT series_key, node, ts,
           sum({sql_micro('value')}) OVER (
               PARTITION BY series_key ORDER BY ts
           ) % 10000000000 AS counter
    FROM s
), d AS (
    SELECT series_key, node, ts, counter,
           lag(counter) OVER (PARTITION BY series_key ORDER BY ts) AS prev
    FROM c
)
SELECT node,
       (epoch_ms(ts) // 300000) * 300000 AS bucket_ms,
       CAST(sum(CASE WHEN prev IS NULL THEN 0
                WHEN counter >= prev THEN counter - prev
                ELSE counter END) AS BIGINT) AS increase
FROM d
GROUP BY 1, 2
""",
)
def engine_rate_sum_by_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference dashboard's flagship shape end-to-end:
    ``sum by (node)(rate(proc_total[5m]))`` (/root/reference/README.md:148
    `sum by (node_type)(rate(gemfire_process_cpu_time[5m]))`) through the
    Engine — counters encoded to Gorilla/DoD chunks ON DISK, Engine.rate
    decodes, reset-corrects PER SERIES, then sums across series per
    (label, bucket), the label parsed from the series key. The oracle
    replays it from raw samples. ``increase`` (exact int64 micro) is the
    compared column; the engine's summed double ``rate`` is the same
    numbers /300 but its cross-series sum order is not oracle-pinnable."""
    import hashlib

    from . import chunks as chunks_mod
    from .api import Engine

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("series_key").orderBy("ts")
    c = ev.select(
        F.concat(
            F.lit("proc_total{node=n"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(",type="),
            F.col("event_type"),
            F.lit("}"),
        ).alias("series_key"),
        "ts",
        "value",
    ).select(
        "series_key",
        "ts",
        (F.sum(micro("value")).over(w) % F.lit(10_000_000_000))
        .cast("double")
        .alias("value"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_engine_rsb_{tag}")
    chunks_mod.encode_chunks(c, series=("series_key",)).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "chunks"))
    out = Engine(spark, root).rate("5m", by=["node"])
    return out.select(
        "node", "bucket_ms", F.col("increase").cast("long").alias("increase")
    )


# -- VSD golden-triple parity fixture (round 5) -----------------------------

#: the reference's single authoritative correctness artifact
#: (/root/reference/README-WORKING-SOLUTION.md:63-67, printed by
#: java-extractor/DelayDurationExtractor.java:107-130): delayDuration
#: count 13,899, avg 997.4038 ms, max 1120.0 ms.
_VSD_CNT = 13_899
_VSD_AVG_MICRO = 997_403_800  # 997.4038 ms in micro-ms (exact integer)
_VSD_MAX_MICRO = 1_120_000_000
_VSD_SWING = 7_000_000  # +-7 ms sampler jitter around the mean


@query(
    "vsd_golden_triple",
    f"""
SELECT 'gemfire_statsampler_delayduration' AS series_key,
       CAST({_VSD_CNT} AS BIGINT) AS cnt,
       CAST(997.4038 AS DOUBLE)   AS avg_ms,
       CAST(1120.0 AS DOUBLE)     AS max_ms
""",
)
def vsd_golden_triple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-value parity with the reference's published VSD oracle: a
    deterministic statsampler-delay series engineered so count, avg, and
    max EQUAL the published numbers, pushed through the engine's own GFS
    wire format (modified-UTF8 name + compact-int delta records,
    sources/gfs_binary.py) and re-aggregated from the DECODED samples.
    The oracle is the published triple itself as literals — any wire
    defect (name, delta chain, compact codec) or stats defect mismatches.

    Construction (all integer micro-ms, so the mean is exact):
    one sample at the published max (1120.0 ms), one mirror sample at
    874.8076 ms (so the pair averages to the mean), 13,896 samples
    alternating mean±7 ms, one final sample exactly at the mean — sum is
    exactly 13,899 x 997,403,800 micro-ms. avg = sum/cnt/1e6 divides
    exact integers, landing on the same double as parsing '997.4038'.
    ``sf_dir`` is unused: the fixture IS the dataset (no real .gfs file
    exists in this sandbox to read)."""
    from .sources.gfs_binary import decode_archive, encode_archive

    base_ts = 1_704_067_200_000  # 2024-01-01T00:00Z, 1s sampler cadence
    i = F.col("id")
    value_micro = (
        F.when(i == 0, F.lit(_VSD_MAX_MICRO))
        .when(i == 1, F.lit(2 * _VSD_AVG_MICRO - _VSD_MAX_MICRO))
        .when(i == _VSD_CNT - 1, F.lit(_VSD_AVG_MICRO))
        .when(
            (i % 2) == 0, F.lit(_VSD_AVG_MICRO + _VSD_SWING)
        )
        .otherwise(F.lit(_VSD_AVG_MICRO - _VSD_SWING))
    )
    samples = spark.range(_VSD_CNT).select(
        F.lit("gemfire_statsampler_delayduration").alias("series_key"),
        (F.lit(base_ts) + i * 1000).alias("ts_ms"),
        value_micro.cast("long").alias("value_long"),
    )
    decoded = decode_archive(encode_archive(samples))
    return decoded.groupBy("series_key").agg(
        F.count(F.lit(1)).alias("cnt"),
        (
            F.sum("value_long").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1_000_000.0)
        ).alias("avg_ms"),
        (F.max("value_long").cast("double") / F.lit(1_000_000.0)).alias(
            "max_ms"
        ),
    )


@query(
    "engine_avg_by_type_1h",
    f"""
SELECT 'n' || (user_id % 3) AS node,
       (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       CAST(CAST(sum({sql_micro('value')}) AS BIGINT) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg
FROM events
GROUP BY 1, 2
""",
)
def engine_avg_by_type_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``avg by (node)(m)`` through the Engine: 5m tier + merged 1h
    tier ON DISK, then range_query('avg', by=[label]) — the avg is the
    exact micro-sum over the exact count (tier-mergeable partials; an
    avg-of-avgs would weight buckets wrongly), one double division that
    the oracle replays identically from raw samples."""
    import hashlib

    from .api import Engine
    from .rollup import rollup, rollup_merge

    ev = load(spark, sf_dir, "events").select(
        F.concat(
            F.lit("events_value{node=n"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(",type="),
            F.col("event_type"),
            F.lit("}"),
        ).alias("series_key"),
        "ts",
        "value",
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"g2p_engine_avg_{tag}")
    r5 = rollup(ev, 300, series=("series_key",))
    r5.write.mode("overwrite").parquet(os.path.join(root, "rollup_5m"))
    r5d = spark.read.parquet(os.path.join(root, "rollup_5m"))
    rollup_merge(r5d, 3600, series=("series_key",)).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "rollup_1h"))
    return Engine(spark, root).range_query("avg", step="1h", by=["node"])


@query(
    "last_first_over_time_1h",
    """
SELECT event_type,
       (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
       arg_max(value, ts) AS last_value,
       arg_min(value, ts) AS first_value
FROM events GROUP BY 1, 2
""",
)
def last_first_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL last_over_time / first_over_time (one pass, max_by/min_by)."""
    from .rate import last_first_over_time

    return last_first_over_time(load(spark, sf_dir, "events"), 3600)


@query(
    "absent_over_time_1h",
    """
WITH b AS (
    SELECT event_type,
           min(epoch_ms(ts) // 3600000) AS b0,
           max(epoch_ms(ts) // 3600000) AS b1
    FROM events GROUP BY 1
),
grid AS (
    SELECT event_type,
           unnest(generate_series(b0, b1)) * 3600000 AS bucket_ms
    FROM b
),
observed AS (
    SELECT DISTINCT event_type,
           (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms
    FROM events WHERE value > CAST(90.0 AS DOUBLE)
)
SELECT g.event_type, g.bucket_ms, 1 AS absent
FROM grid g
WHERE NOT EXISTS (
    SELECT 1 FROM observed o
    WHERE o.event_type = g.event_type AND o.bucket_ms = g.bucket_ms
)
""",
)
def absent_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL absent_over_time((m > 90)[1h]): 1 for every grid bucket
    where no sample satisfies the selector. Grid = per-series observed
    bucket span (sequence-explode, tier-sized); presence anti-joined in
    one shuffle."""
    from .rate import absent_over_time

    out = absent_over_time(
        load(spark, sf_dir, "events"),
        3600,
        F.col("value") > F.lit(90.0),
    )
    return out.select(
        "event_type", "bucket_ms", F.col("absent").cast("int").alias("absent")
    )


@query(
    "stdvar_over_time_1h",
    """
WITH m AS (
    SELECT event_type,
           (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
           count(*) AS n,
           sum(CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT)) AS s1,
           sum(CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT)
               * CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT)) AS s2
    FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_ms,
       CAST(n * s2 - s1 * s1 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS stdvar_micro2
FROM m
""",
)
def stdvar_over_time_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL stdvar_over_time(): POPULATION variance per (series,
    bucket). Same exact decimal(38)/HUGEINT moments as stddev_over_time,
    finishing with (n*s2 - s1^2)/n^2 — one double division (no sqrt),
    bit-exact across engines."""
    from .timeutil import micro

    ev = load(spark, sf_dir, "events")
    yd = micro("value").cast("decimal(38,0)")
    agg = ev.groupBy(
        "event_type",
        (F.unix_millis(F.col("ts").cast("timestamp")) - F.pmod(
            F.unix_millis(F.col("ts").cast("timestamp")), F.lit(3_600_000)
        )).alias("bucket_ms"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(yd).alias("s1"),
        F.sum(yd * yd).alias("s2"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * dec("s2") - dec("s1") * dec("s1")
    out = num.cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return agg.select("event_type", "bucket_ms", out.alias("stdvar_micro2"))
