"""TSDB block compaction job (spark-submit entrypoint).

    spark-submit jobs/compact.py --root /data/tsdb [--block-s 86400]

The reference writes through the Prometheus TSDB library, which compacts
2h head blocks into progressively larger blocks in the background
(prometheus/tsdb compactor; our sink's 2h blocks mirror its head-block
granularity — see chunks.py W3). On a table-backed sink the same
operation is a per-partition rewrite: decode every chunk of a day,
re-encode at the larger block size, overwrite the day atomically. A
source chunk that straddles target blocks (2h chunks into 3h blocks) is
routed to every block it overlaps and each copy keeps that block's
samples, so there is one compaction path for every block size.

Properties:
* lossless — decode(compacted) == decode(source), proven by fingerprint
  in tests and by the lineage checksum on every commit;
* resumable/idempotent — same per-partition lineage protocol as the
  pipeline (dynamic partition overwrite + commit marker per day);
* fewer, larger row groups per day — the small-file/small-chunk problem
  at 100 TB is exactly what block compaction exists to fix (12x fewer
  chunk rows for a fully-sampled series at 2h -> 1d).

Daily blocks align with day partitions (86400s divides the partition),
so compaction never crosses a partition boundary — each day rewrites
independently, embarrassingly parallel across the cluster.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from gfs_to_prometheus_spark import checkpoint, chunks

SERIES = ("series_key",)


#: chunk ROWS per output task. A day of chunk rows is ~1/4000 of its
#: samples (120-sample 2h chunks -> 12 rows/series/day), and each row
#: re-encodes to ~1 KB — 50k rows/task keeps task memory in the tens of
#: MB while producing ~50 MB output files.
ROWS_PER_TASK = 50_000

#: chunk ROWS re-encoded per commit batch. A first-run compaction over a
#: YEAR of history must not select (and cache) the whole backlog in one
#: job: each batch is its own bounded select -> re-encode -> commit
#: cycle, so peak cluster state is one batch's worth and a mid-backlog
#: failure resumes from the last committed batch's lineage. The bound is
#: DATA VOLUME, not calendar days (the r5 fixed 30-day batching paid 11
#: full commit cycles on a sparse 320-day table that fits one batch,
#: while a single dense day at 100 TB already needs its own batch):
#: 2M chunk rows ~= 200 MB of cached recode output per cycle.
ROWS_PER_BATCH = 2_000_000


def compact(
    spark: SparkSession,
    root: str,
    src_table: str = "chunks",
    dst_table: str = "chunks_1d",
    block_s: int = 86_400,
    job_id: str = "compact",
    rows_per_task: int = ROWS_PER_TASK,
    rows_per_batch: int = ROWS_PER_BATCH,
) -> dict[str, int]:
    """Compact src_table's blocks into block_s-sized blocks in dst_table.
    Returns {"src_chunks": n, "dst_chunks": m, "samples": k} for the days
    compacted this run ({} when everything is already committed)."""
    # The block must DIVIDE the day, not just align with it: a multi-day
    # block (e.g. 604800s) would land all covered days' samples in the
    # block-start day's partition while lineage marks only that day done —
    # every re-run would re-encode a PARTIAL block and dynamic partition
    # overwrite would replace full data with partial data (silent loss).
    if 86_400_000 % (block_s * 1000) != 0:
        raise ValueError(
            f"block_s={block_s} must divide a day (86400): multi-day blocks "
            "would cross day partitions and break per-day lineage/resume"
        )
    from jobs.pipeline import _commit

    src_path = os.path.join(root, src_table)
    src = spark.read.parquet(src_path)
    done = checkpoint.completed_parts(spark, root, dst_table)
    # ONE stats scan drives everything: the to-do list, the batch slices,
    # and the per-batch task count. Driver-resident frame is one row per
    # DAY (365 rows/year — not a scale concern).
    stats_rows = (
        src.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n").alias("n_samples"),
            # blocks that CROSS a day boundary (possible only for a
            # foreign chunk table whose block size does not divide a
            # day) would recode samples into a day outside the current
            # batch — rows the per-batch commit would silently lose
            F.sum(
                (
                    (F.col("block_start_ms") / 86_400_000).cast("long")
                    != (F.col("t_max_ms") / 86_400_000).cast("long")
                ).cast("long")
            ).alias("n_crossing"),
        )
        .collect()
    )
    crossing = {str(r["part"]): int(r["n_crossing"]) for r in stats_rows}
    if any(crossing.values()):
        bad = sorted(d for d, c in crossing.items() if c)[:5]
        raise ValueError(
            "src chunk blocks cross day-partition boundaries (e.g. days "
            f"{bad}): per-day batched compaction would drop the "
            "crossing samples. Re-encode the source with a block size "
            "that divides 86400s (this engine's writers always do)."
        )
    day_stats = {
        str(r["part"]): (int(r["n_chunks"]), int(r["n_samples"]))
        for r in stats_rows
    }
    todo = [d for d in sorted(day_stats) if d not in done]
    if not todo:
        return {}
    tot = {"src_chunks": 0, "dst_chunks": 0, "samples": 0}
    import pandas as pd

    # Row-budgeted day batches (see ROWS_PER_BATCH): a first-run backlog
    # must not be selected (and cached) in one job — each batch is its
    # own select -> re-encode -> commit cycle, so peak cached state is
    # one batch and a mid-backlog crash resumes from the last batch's
    # lineage. A day always lands whole in one batch; a huge day gets a
    # batch of its own.
    batches: list[list[str]] = []
    cur: list[str] = []
    cur_rows = 0
    for d in todo:
        nd = day_stats[d][0]
        if cur and cur_rows + nd > rows_per_batch:
            batches.append(cur)
            cur, cur_rows = [], 0
        cur.append(d)
        cur_rows += nd
    if cur:
        batches.append(cur)
    for batch in batches:
        sel = src.filter(F.col("part").cast("string").isin(batch))
        # Per-day salt DERIVED from that day's chunk-row count: day d is
        # split into ceil(rows_d / rows_per_task) salt buckets, so a
        # year-of-history hot day fans out across writers. Each (day,
        # bucket) pair gets a DISTINCT global task index (ADVICE r5) so
        # no file-per-(task x day) fanout; SMALL whole days PACK into
        # shared tasks (a day wholly inside one task still writes
        # exactly one file under dynamic partitionBy, so file count
        # stays one per day) — without packing, a sparse year paid one
        # task + one commit-rename per day (320 near-empty tasks on the
        # 320-day bench table). The pack budget adapts to both file
        # sizing (rows_per_task) and cluster parallelism (~2 waves).
        salts = {
            d: max(1, -(-day_stats[d][0] // max(1, rows_per_task)))
            for d in batch
        }
        batch_rows = sum(day_stats[d][0] for d in batch)
        par = max(1, spark.sparkContext.defaultParallelism)
        budget = max(1, min(rows_per_task, -(-batch_rows // (2 * par))))
        bases: dict[str, int] = {}
        off = 0
        open_task, open_rows = None, 0
        for d in batch:
            nd = day_stats[d][0]
            if salts[d] > 1:
                bases[d] = off
                off += salts[d]
                continue
            if open_task is None or open_rows + nd > budget:
                open_task, open_rows = off, 0
                off += 1
            bases[d] = open_task
            open_rows += nd
        n_tasks = off
        salt_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "part": list(salts),
                    "_salt": list(salts.values()),
                    "_base": [bases[d] for d in salts],
                }
            ),
            "part string, _salt int, _base int",
        )
        # LEFT join + coalesce: an inner join would silently DROP any
        # source row whose day is not in salt_df (defense in depth —
        # the day-crossing guard above should make this unreachable)
        tidx = F.coalesce(F.col("_base"), F.lit(0)) + F.pmod(
            F.xxhash64(*SERIES), F.coalesce(F.col("_salt"), F.lit(1))
        )
        # ONE shuffle of the ENCODED chunk rows (never the decoded
        # samples) + ONE Python crossing; repartitionById places each
        # (day, bucket) group in its own task exactly
        tagged = sel.join(F.broadcast(salt_df), "part", "left").withColumn(
            "_tidx", tidx.cast("int")
        )
        recoded = chunks.recode_chunks(
            tagged, "_tidx", n_tasks, series=SERIES, block_s=block_s
        ).withColumn(
            "part",
            F.date_format(F.timestamp_millis("block_start_ms"), "yyyy-MM-dd"),
        )
        t0 = time.monotonic()
        tot["dst_chunks"] += _commit(
            spark, root, job_id, dst_table, recoded, t0
        )
        tot["src_chunks"] += sum(day_stats[d][0] for d in batch)
        tot["samples"] += sum(day_stats[d][1] for d in batch)
    return tot


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--src-table", default="chunks")
    ap.add_argument("--dst-table", default="chunks_1d")
    ap.add_argument("--block-s", type=int, default=86_400)
    ap.add_argument("--job-id", default="compact")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from gfs_to_prometheus_spark.session import get_spark

    spark = get_spark(app="compact", cpus=args.cpus)
    print(
        {
            "compacted": compact(
                spark, args.root, args.src_table, args.dst_table,
                args.block_s, args.job_id,
            )
        }
    )


if __name__ == "__main__":
    main()
