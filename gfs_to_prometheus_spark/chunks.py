"""Per-series chunk materialization — the TSDB-block analog (S8, §2.11).

The reference appends per-series samples into Prometheus TSDB 2h blocks
(Gorilla chunks, /root/reference/internal/tsdb/writer.go:29-34). Here a
chunk row is built per (series, tumbling block) by a grouped vectorized
pandas UDF over the numpy codecs:

    (series..., block_start_ms, n, t_min_ms, t_max_ms,
     ts_chunk: binary, val_chunk: binary, codec: string)

Scale design
------------
* The applyInPandas group key is (series, block): a hot series is already
  split across time blocks, bounding group size by cadence x block span.
* For blocks that are STILL hot (FIXTURES.md: 1% of series carry 50% of
  samples), pass ``salt > 1``: a deterministic pmod(xxhash64(ts), salt)
  sub-key splits one block into `salt` chunks. Readers are oblivious —
  decode just yields more chunk rows. This is the explicit skew control
  the north_rule demands (AQE cannot split a single pandas-UDF group).
* Chunks land partitioned by block day -> retention (retention.py) is a
  metadata-only partition drop, mirroring writer.go:27's 365d horizon.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from . import codecs
from .timeutil import epoch_ms

CODEC_NAME = "dod+gorilla-v2"  # section-split: vectorized decode (codecs.py)

CHUNK_FIELDS = (
    "block_start_ms bigint, n bigint, t_min_ms bigint, t_max_ms bigint, "
    "ts_chunk binary, val_chunk binary, codec string"
)


def _series_schema(df: DataFrame, series: Sequence[str]) -> str:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{c} {by_name[c]}" for c in series)


def _binary(buf: bytes, byte_offsets: np.ndarray) -> np.ndarray:
    """Concatenated payloads + byte offsets -> one bytes object per chunk."""
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(byte_offsets) - 1,
        [None, pa.py_buffer(byte_offsets), pa.py_buffer(buf)],
    ).to_numpy(zero_copy_only=False)


def _concat(col: pd.Series) -> tuple:
    """A column of chunk payloads -> (one buffer, byte offsets)."""
    arr = pa.array(col, type=pa.large_binary())
    _, offs, data = arr.buffers()
    return data or b"", np.frombuffer(offs, np.int64)[: len(arr) + 1]


def _decode_many(pdf: pd.DataFrame, ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated (ts, value) samples of a frame's chunk rows."""
    return (
        codecs.dod_decode_many(*_concat(pdf["ts_chunk"]), ns),
        codecs.xor_decode_many(*_concat(pdf["val_chunk"]), ns),
    )


# ---------------------------------------------------------------------------
# the chunk-kernel skeleton: every kernel receives rows sorted by its group
# key in Arrow batches, finds the groups, carries the batch's trailing group
# into the next batch and cuts oversized groups — these helpers are the only
# implementation of each step (sources/gfs_binary shares them too)
# ---------------------------------------------------------------------------


def group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Row index where each run of equal ``keys`` begins (row 0 always)."""
    k = pdf[list(keys)]
    return np.flatnonzero(k.ne(k.shift()).any(axis=1).to_numpy())


def carry_groups(batches, keys: Sequence[str], cap: int | None = None):
    """Yield ``(frame, group start rows)`` of whole groups from key-sorted
    Arrow batches. Groups never span partitions (callers exchange every
    row of a group into one partition); they MAY span batches, so each
    batch's trailing (possibly incomplete) group is carried into the
    next. With ``cap``, a trailing group longer than ``cap`` rows is
    flushed in whole ``cap``-row pieces at once (the kernel may cut
    mid-group there), keeping the carry — and its re-concat per batch —
    bounded."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        starts = group_starts(pdf, keys)
        cut = int(starts[-1])
        if cap is not None and len(pdf) - cut > cap:
            cut += (len(pdf) - cut) // cap * cap
        carry = pdf.iloc[cut:].copy()
        if cut:
            yield pdf.iloc[:cut], starts[starts < cut]
    if carry is not None and len(carry):
        yield carry, group_starts(carry, keys)


def _split_runs(
    starts: np.ndarray, total: int, cap: int
) -> tuple[np.ndarray, np.ndarray]:
    """Cut the contiguous runs ``[starts[i], starts[i+1])`` (the last ends
    at ``total``) into pieces of at most ``cap`` rows -> (piece starts,
    piece ends). Prometheus likewise cuts head chunks at ~120 samples."""
    ends = np.append(starts[1:], total)[: len(starts)]
    pieces = -(-(ends - starts) // cap)
    run = np.repeat(np.arange(len(starts)), pieces)
    k = np.arange(len(run)) - np.repeat(np.cumsum(pieces) - pieces, pieces)
    s = starts[run] + k * cap
    return s, np.minimum(s + cap, ends[run])


def _chunk_frame(
    pdf: pd.DataFrame, series_l: list, src_rows: np.ndarray,
    block_start: np.ndarray, t_all: np.ndarray, v_all: np.ndarray,
    offsets: np.ndarray,
) -> pd.DataFrame:
    """Chunk rows for the sample runs ``offsets[i]:offsets[i+1]``, which
    partition ``t_all``/``v_all``; series values come from ``pdf``'s
    ``src_rows``."""
    rows = {c: pdf[c].to_numpy()[src_rows] for c in series_l}
    rows.update(
        block_start_ms=block_start,
        n=np.diff(offsets),
        t_min_ms=t_all[offsets[:-1]],
        t_max_ms=t_all[offsets[1:] - 1],
        ts_chunk=_binary(*codecs.dod_encode_many(t_all, offsets)),
        val_chunk=_binary(*codecs.xor_encode_many(v_all, offsets)),
        codec=CODEC_NAME,
    )
    return pd.DataFrame(rows)


def _expand(pdf: pd.DataFrame, series_l: list) -> pd.DataFrame:
    """Chunk rows -> one (series..., ts_ms, value) row per sample."""
    ns = pdf["n"].to_numpy(np.int64)
    t, v = _decode_many(pdf, ns)
    d = {c: np.repeat(pdf[c].to_numpy(), ns) for c in series_l}
    d["ts_ms"] = t
    d["value"] = v
    return pd.DataFrame(d)


def _encode_pipeline(
    df: DataFrame,
    series: Sequence[str],
    ts: str,
    value: str,
    block_s: int,
    salt: int,
    max_chunk_samples: int,
):
    """Shared encode machinery: (sorted_base, heads) — the repartition+sort
    prep, and a batch iterator -> encoded chunk frames (used by both
    encode_chunks and roundtrip_chunks)."""
    step_ms = block_s * 1000
    base = df.select(
        *series,
        epoch_ms(ts).alias("_ts_ms"),
        F.col(value).cast("double").alias("_val"),
    ).withColumn(
        "_block", (F.floor(F.col("_ts_ms") / F.lit(step_ms)) * step_ms).cast("long")
    )
    keys = [*series, "_block"]
    if salt > 1:
        # int32, not int64: the salt is pure partitioning ballast that also
        # crosses the JVM->Python Arrow pipe — half the bytes, same split
        base = base.withColumn(
            "_salt", F.pmod(F.xxhash64("_ts_ms"), F.lit(salt)).cast("int")
        )
        keys.append("_salt")

    series_l = list(series)
    # explicit partition count = the session's configured shuffle
    # parallelism. AQE's byte-based coalescing under-parallelizes this
    # exchange: the downstream cost is python codec CPU + Arrow
    # serialization per ROW, not shuffle I/O per byte (a 30 MB
    # post-shuffle encode at sf1 coalesced to 13 tasks on 32 cores,
    # serializing the python stage; pinning the configured count measured
    # 12% off the encode wall). Scale-adaptive because shuffle.partitions
    # itself is sized to the deployment (session.py).
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sorted_base = base.repartition(n_shuffle, *keys).sortWithinPartitions(
        *keys, "_ts_ms"
    )
    # Pipe-volume note (measured, BENCH/pipe_bytes.py + r4 A/B): dropping
    # _block from the Arrow pipe and recomputing it python-side cuts the
    # JVM->Python bytes 27% (44.5 -> 32.5 B/row) but makes the END-TO-END
    # write path ~20% SLOWER at 4x2 executors — the pandas column insert +
    # block-manager consolidation in the group scan costs more than the
    # pipe transfer saves. The pipe is NOT the binding constraint at this
    # byte range; python-side codec CPU is. So _block ships; only the salt
    # is shrunk to i32 (no python-side rebuild needed for that one).

    def heads(batches):
        # the carry cap is max_chunk_samples: a hot series' block with
        # millions of samples streams through in O(batch) memory
        for pdf, starts in carry_groups(batches, keys, max_chunk_samples):
            t_all = pdf["_ts_ms"].to_numpy(np.int64)
            v_all = pdf["_val"].to_numpy(np.float64)
            s, _ = _split_runs(starts, len(pdf), max_chunk_samples)
            block = pdf["_block"].to_numpy(np.int64)[s]
            yield _chunk_frame(
                pdf, series_l, s, block, t_all, v_all, np.append(s, len(pdf))
            )

    return sorted_base, heads


def encode_chunks(
    df: DataFrame,
    series: Sequence[str] = ("event_type",),
    ts: str = "ts",
    value: str = "value",
    block_s: int = 7200,
    salt: int = 1,
    max_chunk_samples: int = 4096,
) -> DataFrame:
    """samples -> chunk rows. One shuffle on (series, block[, salt]).

    Implementation: repartition+sortWithinPartitions, then mapInPandas
    with manual group detection — one Arrow exchange per 64k-row batch
    instead of per group (applyInPandas pays per-group overhead, which
    dominates when chunks are small); groups spanning Arrow batches are
    re-attached by carry_groups.

    ``max_chunk_samples`` cuts oversized groups into multiple chunk rows
    (Prometheus likewise cuts head chunks at ~120 samples): it bounds
    both chunk decode memory AND the carry buffer."""
    sorted_base, heads = _encode_pipeline(
        df, series, ts, value, block_s, salt, max_chunk_samples
    )
    out_schema = f"{_series_schema(df, series)}, {CHUNK_FIELDS}"
    return sorted_base.mapInPandas(heads, schema=out_schema)


def roundtrip_chunks(
    df: DataFrame,
    series: Sequence[str] = ("event_type",),
    ts: str = "ts",
    value: str = "value",
    block_s: int = 7200,
    salt: int = 1,
    max_chunk_samples: int = 4096,
) -> DataFrame:
    """decode_chunks(encode_chunks(df)) fused into ONE Python crossing.

    The unfused pair materializes every chunk row as JVM rows between two
    mapInPandas stages: encode's output (series keys + binary payloads)
    crosses Python->JVM over Arrow only so decode can pull it JVM->Python
    right back — two full serializations of the chunk table that exist
    for no consumer (guide §4: eliminate boundary crossings). Here the
    same encode kernel runs per head batch and its output is decoded IN
    PLACE by the same _expand body, so results are bit-identical to the
    unfused pair by construction (pinned by
    tests/test_skew.py::test_roundtrip_chunks_matches_unfused_pair);
    the encode->decode codec work itself is unchanged — every sample
    still round-trips the DoD/Gorilla wire bytes."""
    sorted_base, heads = _encode_pipeline(
        df, series, ts, value, block_s, salt, max_chunk_samples
    )
    series_l = list(series)
    out_schema = f"{_series_schema(df, series)}, ts_ms bigint, value double"

    def build(batches):
        for enc in heads(batches):
            yield _expand(enc, series_l)

    return sorted_base.mapInPandas(build, schema=out_schema)


def decode_chunks(
    chunks: DataFrame, series: Sequence[str] = ("event_type",)
) -> DataFrame:
    """chunk rows -> samples (series..., ts_ms, value). Narrow map — each
    chunk decodes independently (mapInPandas, no shuffle)."""
    series_l = list(series)
    out_schema = f"{_series_schema(chunks, series_l)}, ts_ms bigint, value double"

    def expand(batches):
        for pdf in batches:
            yield _expand(pdf, series_l)

    return chunks.mapInPandas(expand, schema=out_schema)


def recode_chunks(
    chunks_df: DataFrame,
    task_col: str,
    n_tasks: int,
    series: Sequence[str] = ("event_type",),
    block_s: int = 86_400,
    max_chunk_samples: int = 4096,
) -> DataFrame:
    """chunk rows -> chunk rows at ``block_s``, shuffling ENCODED chunks.

    A decode->encode pair (decode_chunks + encode_chunks) would shuffle
    the DECODED samples and cross the JVM<->Python boundary twice. Here
    the shuffle moves the compressed chunk rows instead (at a healthy
    120-sample chunk density that is ~1/100 the rows and a fraction of
    the bytes — the guide-§8 "move the compact proxy, not the payload"
    rule), and decode + re-encode happen in ONE mapInPandas pass, so
    samples never exist as JVM rows at all.

    A source chunk is routed to every target block its samples overlap
    (``explode(sequence(first, last, step))`` over t_min_ms..t_max_ms);
    each copy keeps only the samples inside its own block, so source
    blocks need not nest in target blocks (2h chunks -> 3h blocks).

    Placement: ``task_col`` holds each row's task index in
    ``[0, n_tasks)`` and ``repartitionById`` sends the row to exactly that
    task — no hash collisions and no range-exchange sampling pass, and
    the plan does not grow with ``n_tasks``. The column must be constant
    per (series, target-block) group so groups stay intact.

    Memory: one buffered group = one (series, target-block)'s chunk rows
    plus its decoded samples — bounded by cadence x block span, not by
    partition size.
    """
    step_ms = block_s * 1000
    series_l = list(series)

    def block_of(c: str):
        return (F.floor(F.col(c) / F.lit(step_ms)) * step_ms).cast("long")

    cols = [*series_l, "block_start_ms", "n", "ts_chunk", "val_chunk"]
    blocks = F.sequence(
        block_of("t_min_ms"), block_of("t_max_ms"), F.lit(step_ms).cast("long")
    )
    rep = (
        chunks_df.select(*cols, F.explode(blocks).alias("_nb"), task_col)
        .repartitionById(n_tasks, task_col)
        .sortWithinPartitions(*series_l, "_nb", "block_start_ms")
    )
    keys = [*series_l, "_nb"]
    out_schema = f"{_series_schema(chunks_df, series_l)}, {CHUNK_FIELDS}"

    def recode(batches):
        for pdf, starts in carry_groups(batches, keys):
            ns = pdf["n"].to_numpy(np.int64)
            t_all, v_all = _decode_many(pdf, ns)
            nb = pdf["_nb"].to_numpy(np.int64)[starts]
            g = np.repeat(np.arange(len(starts)), np.add.reduceat(ns, starts))
            # keep the samples inside the group's block (a straddling
            # source chunk sits in one group per block it overlaps), then
            # a stable per-group time sort (source chunks of one block may
            # interleave when the source was salt-split)
            keep = np.flatnonzero((t_all >= nb[g]) & (t_all < nb[g] + step_ms))
            order = keep[np.lexsort((t_all[keep], g[keep]))]
            t_all, v_all, g = t_all[order], v_all[order], g[order]
            s, _ = _split_runs(
                np.flatnonzero(np.diff(g, prepend=-1)), len(g), max_chunk_samples
            )
            gs = g[s]
            yield _chunk_frame(
                pdf, series_l, starts[gs], nb[gs], t_all, v_all, np.append(s, len(g))
            )

    return rep.mapInPandas(recode, schema=out_schema)
