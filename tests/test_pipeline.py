"""Pipeline resumability + tiered retention (SURVEY.md §5.2-6, north_rule:
'resumes from per-partition checkpoints with lineage + counter metrics')."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gfs_to_prometheus_spark import checkpoint, retention
from jobs import pipeline

N_DOCS = 400


def _table_fingerprint(spark, root, table):
    df = spark.read.parquet(os.path.join(root, table))
    (row,) = (
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)).alias("chk"),
        ).collect()
    )
    return row["n"], row["chk"]


def test_resume_equals_uninterrupted(spark, tmp_path):
    """Run A: interrupted (only 2 day-partitions), then resumed to
    completion. Run B: uninterrupted. Outputs must be identical and no
    partition may be processed twice."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")

    pipeline.run(spark, a, N_DOCS, job_id="partial", days_limit=2)
    done_after_partial = checkpoint.completed_parts(spark, a, "chunks")
    assert len(done_after_partial) == 2

    pipeline.run(spark, a, N_DOCS, job_id="resume")  # picks up the rest
    pipeline.run(spark, b, N_DOCS, job_id="full")

    for table in ("rollup_5m", "rollup_1h", "rollup_1d", "chunks"):
        assert _table_fingerprint(spark, a, table) == _table_fingerprint(
            spark, b, table
        ), table

    # lineage: the resume job must not have re-committed the partial days
    lin = checkpoint.read_lineage(spark, a)
    resumed = {
        r["part"]
        for r in lin.filter(
            (F.col("job_id") == "resume") & (F.col("table") == "rollup_5m")
        ).collect()
    }
    assert not (resumed & done_after_partial)


def test_noop_when_all_committed(spark, tmp_path):
    out = str(tmp_path / "c")
    pipeline.run(spark, out, N_DOCS, job_id="full")
    assert pipeline.run(spark, out, N_DOCS, job_id="again") == {}


def test_tiered_retention(spark, tmp_path):
    out = str(tmp_path / "r")
    pipeline.run(spark, out, N_DOCS, job_id="full")
    days = retention.list_parts(out, "rollup_5m")
    assert days
    # horizon chosen so the oldest day ages out of chunks+5m but stays in 1h/1d
    from datetime import date, timedelta

    today = (date.fromisoformat(days[0]) + timedelta(days=3)).isoformat()
    pol = retention.RetentionPolicy(
        {"chunks": 2, "rollup_5m": 2, "rollup_1h": 30, "rollup_1d": None}
    )
    dropped = retention.apply_retention(out, pol, today)
    assert days[0] in dropped.get("chunks", [])
    assert days[0] in dropped.get("rollup_5m", [])
    assert "rollup_1h" not in dropped
    # surviving tiers still readable and non-empty
    assert spark.read.parquet(os.path.join(out, "rollup_1h")).count() > 0
    remaining = retention.list_parts(out, "rollup_5m")
    assert days[0] not in remaining


def test_rejected_row_counters_reconcile(spark, tmp_path):
    """PERMISSIVE-with-metrics (SURVEY §4): invalid rows are counted per
    (day, reason), never silently dropped — input = written + rejected."""
    out = str(tmp_path / "tsdb")
    good = pipeline.build_samples(spark, 400)
    n_good = good.count()
    bad = spark.createDataFrame(
        [
            ("s-nan", 1_700_000_000_000, float("nan")),
            ("s-inf", 1_700_000_000_000, float("inf")),
            ("s-huge", 1_700_000_060_000, 1e16),
            ("\x01\x02\x03\x04\x05", 1_700_000_120_000, 1.0),  # <80% printable
            ("", 1_700_000_180_000, 2.0),  # zero-length series
        ],
        "series_key string, ts_ms long, value double",
    ).select(
        "series_key",
        F.timestamp_millis("ts_ms").alias("ts"),
        "value",
        F.date_format(F.timestamp_millis("ts_ms"), "yyyy-MM-dd").alias("part"),
    )
    samples = good.select("series_key", "ts", "value", "part").unionByName(bad)
    written = pipeline.run_from_samples(spark, out, samples, job_id="rej")
    assert written["rejected"] == 5
    rej = spark.read.parquet(os.path.join(out, "rejects"))
    by_reason = {r["reason"]: r["n"] for r in
                 rej.groupBy("reason").agg(F.sum("rows").alias("n")).collect()}
    assert by_reason == {"value_sanity": 3, "invalid_series": 2}
    # reconcile: every valid input sample is in the chunk table
    ch = spark.read.parquet(os.path.join(out, "chunks"))
    n_chunks = ch.agg(F.sum("n")).collect()[0][0]
    assert n_chunks + written["rejected"] == n_good + 5
    # lineage carries the rejects commit
    lin = checkpoint.read_lineage(spark, out)
    assert lin.filter(F.col("table") == "rejects").count() >= 1


def test_all_rejected_day_converges(spark, tmp_path):
    """A day whose rows are ALL rejected must still be marked complete
    (rows=0 lineage) so resume converges instead of reprocessing forever."""
    out = str(tmp_path / "tsdb")
    bad = spark.createDataFrame(
        [(None, 1_700_000_000_000, 1.0), ("s", 1_700_000_060_000, float("nan"))],
        "series_key string, ts_ms long, value double",
    ).select(
        "series_key",
        F.timestamp_millis("ts_ms").alias("ts"),
        "value",
        F.date_format(F.timestamp_millis("ts_ms"), "yyyy-MM-dd").alias("part"),
    )
    w1 = pipeline.run_from_samples(spark, out, bad, job_id="allrej")
    assert w1["rejected"] == 2 and w1["chunks"] == 0
    rej = spark.read.parquet(os.path.join(out, "rejects"))
    assert {r["reason"] for r in rej.collect()} == {"value_sanity", "invalid_series"}
    w2 = pipeline.run_from_samples(spark, out, bad, job_id="allrej")
    assert w2 == {}


def test_convert_job_end_to_end(spark, tmp_path):
    """jobs/convert.py: wire archives -> decode -> YAML config remap
    (rename+labels / drop / include) -> resumable tiers."""
    from jobs import convert as convert_job

    arch_dir = str(tmp_path / "archives")
    out = str(tmp_path / "tsdb")
    rows = []
    for key in ("CachePerfStats.puts", "CachePerfStats.debugMetric",
                "VMStats.cpu", "SecretStats.hidden"):
        rows += [(key, 1_700_000_000_000 + i * 60_000, (i + 1) * 1_000_000)
                 for i in range(30)]
    df = spark.createDataFrame(
        rows, "series_key string, ts_ms long, value_long long"
    )
    from gfs_to_prometheus_spark.sources import gfs_binary

    gfs_binary.encode_archive(df).write.mode("overwrite").parquet(arch_dir)

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        """
filters:
  include_resource_types: [CachePerfStats, VMStats]
metric_mappings:
  "CachePerfStats.puts":
    name: cache_operations_total
    labels: {operation: put}
  "CachePerfStats.debugMetric":
    drop: true
label_mappings: {env: prod}
"""
    )
    written = convert_job.convert(
        spark, arch_dir, out, config_path=str(cfg), job_id="cvt"
    )
    assert written["rollup_5m"] > 0
    keys = {
        r["series_key"]
        for r in spark.read.parquet(os.path.join(out, "rollup_5m"))
        .select("series_key").distinct().collect()
    }
    assert keys == {
        "cache_operations_total{env=prod,operation=put}",
        "gemfire_vmstats_cpu{env=prod}",
    }  # debugMetric dropped, SecretStats excluded
    assert convert_job.convert(
        spark, arch_dir, out, config_path=str(cfg), job_id="cvt"
    ) == {}  # resumable no-op


def test_commit_is_one_pass_no_readback(spark, tmp_path, monkeypatch):
    """The hot-path commit must never re-read the written table (that
    doubles write-path I/O at scale): accessing spark.read inside _commit
    with verify=False is a failure. verify=True is the explicit audit mode
    and must re-read + agree."""
    from pyspark.sql import SparkSession

    df = spark.createDataFrame(
        [("s", 1, 1.0, "2023-11-14"), ("s", 2, 2.0, "2023-11-15")],
        "series_key string, ts_ms long, value double, part string",
    )

    def boom(self):
        raise AssertionError("spark.read accessed during hot-path commit")

    out = str(tmp_path / "t")
    orig = SparkSession.read
    monkeypatch.setattr(SparkSession, "read", property(boom))
    try:
        n = pipeline._commit(spark, out, "j", "tbl", df, 0.0)
    finally:
        monkeypatch.setattr(SparkSession, "read", orig)
    assert n == 2
    # audit mode re-reads and must agree with the in-memory stats
    n2 = pipeline._commit(spark, out, "j", "tbl", df, 0.0, verify=True)
    assert n2 == 2


def test_compaction_lossless_and_resumable(spark, tmp_path):
    """Block compaction (2h -> 1d): decoded samples identical, strictly
    fewer chunk rows, no-op on re-run (Prometheus-compactor analog for the
    table-backed sink)."""
    from gfs_to_prometheus_spark import chunks as chunks_mod
    from jobs import compact as compact_job

    out = str(tmp_path / "tsdb")
    pipeline.run(spark, out, N_DOCS, job_id="full")

    stats = compact_job.compact(spark, out)
    assert stats["dst_chunks"] < stats["src_chunks"]

    src = spark.read.parquet(os.path.join(out, "chunks"))
    dst = spark.read.parquet(os.path.join(out, "chunks_1d"))
    # every compacted block is day-sized and day-aligned
    assert dst.filter(F.col("block_start_ms") % 86_400_000 != 0).count() == 0

    def fp(df):
        s = chunks_mod.decode_chunks(df, series=("series_key",))
        (row,) = s.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("series_key", "ts_ms", "value")), F.lit(0)
            ).alias("chk"),
        ).collect()
        return row["n"], row["chk"]

    assert fp(src) == fp(dst)  # lossless
    assert compact_job.compact(spark, out) == {}  # committed -> no-op
    lin = checkpoint.read_lineage(spark, out)
    assert lin.filter(F.col("table") == "chunks_1d").count() >= 1


def test_compact_rejects_multi_day_block(spark):
    """A block that is a MULTIPLE of a day (week) would cross day
    partitions: lineage marks only the block-start day complete and every
    re-run overwrites the full block with partial data (ADVICE r3).
    Guard: block_s must DIVIDE the day."""
    import pytest as _pytest

    from jobs import compact as compact_job

    with _pytest.raises(ValueError, match="divide a day"):
        compact_job.compact(spark, "/nonexistent", block_s=604_800)
    with _pytest.raises(ValueError, match="divide a day"):
        compact_job.compact(spark, "/nonexistent", block_s=100_000)


def test_lineage_read_failures_propagate(spark, tmp_path):
    """First run (no lineage dir) is quiet-empty via an FS existence probe
    — no JVM stack trace in the logs — but once the path EXISTS, a read
    failure is real (corruption/permissions) and must raise rather than
    silently reporting "no completed partitions" (which would re-commit
    everything)."""
    import pytest

    root = str(tmp_path / "tsdb")
    # absent path: empty frame, no exception
    assert checkpoint.completed_parts(spark, root, "chunks") == set()
    # corrupt lineage: a non-parquet file where parquet is expected
    lp = checkpoint.lineage_path(root)
    os.makedirs(lp)
    with open(os.path.join(lp, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")
    with pytest.raises(Exception) as ei:
        checkpoint.completed_parts(spark, root, "chunks")
    assert "parquet" in str(ei.value).lower() or "Parquet" in str(ei.value)


def test_compact_scale_defaults(spark, tmp_path):
    """Round-5 scale defaults: (a) a day whose chunk-row count exceeds
    rows_per_task re-encodes across MULTIPLE tasks (multiple output files
    per day — never one-task-per-day); (b) a multi-day backlog is
    processed in bounded day-batches (one lineage commit per batch), not
    one whole-backlog select+cache; (c) the result is still lossless and
    a re-run is a no-op."""
    import glob as globmod

    from gfs_to_prometheus_spark import chunks as chunks_mod
    from jobs import compact as compact_job

    out = str(tmp_path / "tsdb")
    # 10 series x hourly samples x 6 days -> 120 chunk rows per day
    n_days = 6
    samples = (
        spark.range(10 * 24 * n_days)
        .select(
            F.concat(F.lit("s"), (F.col("id") % 10).cast("string")).alias(
                "series_key"
            ),
            F.timestamp_millis(
                F.lit(1_704_067_200_000) + (F.col("id") / 10).cast("long") * 3_600_000
            ).alias("ts"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
    )
    ch = chunks_mod.encode_chunks(samples, series=("series_key",))
    ch.withColumn(
        "part",
        F.date_format(F.timestamp_millis("block_start_ms"), "yyyy-MM-dd"),
    ).write.mode("overwrite").parquet(os.path.join(out, "chunks"))
    src = spark.read.parquet(os.path.join(out, "chunks"))
    days = sorted(
        str(r["part"]) for r in src.select("part").distinct().collect()
    )
    assert len(days) == n_days
    per_day = {
        str(r["part"]): r["n"]
        for r in src.groupBy("part").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    big_day = max(per_day, key=per_day.get)
    assert per_day[big_day] > 50  # exceeds rows_per_task below

    stats = compact_job.compact(
        spark, out, rows_per_task=50, rows_per_batch=240
    )
    assert stats["dst_chunks"] < stats["src_chunks"]

    # (a) the hot day split across tasks -> >1 parquet file in its dir
    files = globmod.glob(
        os.path.join(out, "chunks_1d", f"part={big_day}", "*.parquet")
    )
    assert len(files) > 1, f"expected multi-file day, got {files}"

    # (b) one lineage commit (one coalesced file) per batch of <=2 days
    n_batches = -(-len(days) // 2)
    lineage_files = globmod.glob(os.path.join(out, "_lineage", "*.parquet"))
    assert len(lineage_files) == n_batches, (
        f"{len(lineage_files)} lineage commits for {len(days)} days "
        f"(expected {n_batches} batches)"
    )
    lin = checkpoint.read_lineage(spark, out)
    committed = {
        str(r["part"])
        for r in lin.filter(F.col("table") == "chunks_1d").collect()
    }
    assert committed == set(days)

    # (c) lossless + idempotent
    def fp(df):
        s = chunks_mod.decode_chunks(df, series=("series_key",))
        (row,) = s.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("series_key", "ts_ms", "value")), F.lit(0)
            ).alias("chk"),
        ).collect()
        return row["n"], row["chk"]

    dst = spark.read.parquet(os.path.join(out, "chunks_1d"))
    assert fp(src) == fp(dst)
    assert compact_job.compact(
        spark, out, rows_per_task=50, rows_per_batch=240
    ) == {}


def _sample_fingerprint(df):
    from gfs_to_prometheus_spark import chunks as chunks_mod

    s = chunks_mod.decode_chunks(df, series=("series_key",))
    (row,) = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64("series_key", "ts_ms", "value")), F.lit(0)
        ).alias("chk"),
    ).collect()
    return row["n"], row["chk"]


def test_compact_straddling_source_blocks(spark, tmp_path):
    """3h target blocks over the pipeline's 2h chunks: every 2h block that
    starts at 02:00 mod 6h straddles a 3h boundary. Each straddling chunk
    goes to both target blocks and each copy keeps its own block's
    samples — lossless, block-aligned, and a re-run is a no-op."""
    from jobs import compact as compact_job

    out = str(tmp_path / "tsdb")
    pipeline.run(spark, out, N_DOCS, job_id="full")
    step = 10_800_000
    src = spark.read.parquet(os.path.join(out, "chunks"))
    straddling = src.filter(
        F.floor(F.col("t_min_ms") / step) != F.floor(F.col("t_max_ms") / step)
    ).count()
    assert straddling > 0  # the case under test actually occurs

    stats = compact_job.compact(
        spark, out, dst_table="chunks_3h", block_s=10_800
    )
    assert stats["samples"] == src.agg(F.sum("n")).collect()[0][0]
    dst = spark.read.parquet(os.path.join(out, "chunks_3h"))
    assert dst.filter(F.col("block_start_ms") % step != 0).count() == 0
    assert dst.filter(
        (F.col("t_min_ms") < F.col("block_start_ms"))
        | (F.col("t_max_ms") >= F.col("block_start_ms") + step)
    ).count() == 0
    assert _sample_fingerprint(src) == _sample_fingerprint(dst)
    assert compact_job.compact(
        spark, out, dst_table="chunks_3h", block_s=10_800
    ) == {}


def test_compact_plan_does_not_grow_with_task_count(
    spark, tmp_path, monkeypatch
):
    """Task placement is one repartitionById on the task-index column, so
    the recoded frame's analyzed plan is the same size at 10 tasks and at
    2000 (an embedded per-task lookup table would grow with the count)."""
    from gfs_to_prometheus_spark import chunks as chunks_mod
    from jobs import compact as compact_job

    out = str(tmp_path / "tsdb")
    samples = spark.range(2000).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("series_key"),
        F.timestamp_millis(F.lit(1_704_067_200_000) + F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    chunks_mod.encode_chunks(samples, series=("series_key",)).withColumn(
        "part",
        F.date_format(F.timestamp_millis("block_start_ms"), "yyyy-MM-dd"),
    ).write.mode("overwrite").parquet(os.path.join(out, "chunks"))

    planned = []

    def capture(spark, root, job_id, table, df, t0, **kw):
        planned.append(df)
        return 0

    monkeypatch.setattr(pipeline, "_commit", capture)
    for rows_per_task in (200, 1):  # 2000 chunk rows -> 10, then 2000 tasks
        compact_job.compact(spark, out, rows_per_task=rows_per_task)
    sizes = [
        len(df._jdf.queryExecution().analyzed().toJSON()) for df in planned
    ]
    assert len(sizes) == 2
    assert sizes[1] < 1.1 * sizes[0], sizes


def test_compact_rejects_day_crossing_source_blocks(spark, tmp_path):
    """A foreign chunk table whose blocks cross midnight would recode
    samples into a day OUTSIDE the current batch — rows the per-batch
    commit protocol cannot account for. compact() must refuse instead of
    silently losing them (round-5 review finding)."""
    from gfs_to_prometheus_spark import chunks as chunks_mod
    from jobs import compact as compact_job

    out = str(tmp_path / "tsdb")
    # 5h blocks do not divide a day -> some blocks straddle midnight
    samples = spark.range(3 * 24).select(
        F.lit("s0").alias("series_key"),
        F.timestamp_millis(
            F.lit(1_704_067_200_000) + F.col("id") * 3_600_000
        ).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    ch = chunks_mod.encode_chunks(samples, series=("series_key",), block_s=18_000)
    ch.withColumn(
        "part",
        F.date_format(F.timestamp_millis("block_start_ms"), "yyyy-MM-dd"),
    ).write.mode("overwrite").parquet(os.path.join(out, "chunks"))
    with pytest.raises(ValueError, match="cross day-partition"):
        compact_job.compact(spark, out)
