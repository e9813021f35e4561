"""Hot-series skew control: the salt sub-key must split the dominant
series' chunk groups (north_rule: explicit salt-bucketed repartitioning;
AQE cannot split a single applyInPandas/mapInPandas group)."""

from __future__ import annotations

import numpy as np
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gfs_to_prometheus_spark import chunks, synth


def test_salt_splits_hot_groups(spark):
    seq = synth.sequences(spark, 400)
    samples = (
        synth.samples_from_sequences(seq)
        .groupBy("series_key", "ts_ms")
        .agg(F.max("value").alias("value"))
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    flat = chunks.encode_chunks(samples, series=("series_key",), salt=1)
    salted = chunks.encode_chunks(samples, series=("series_key",), salt=8)

    def max_group(df):
        return df.agg(F.max("n")).collect()[0][0]

    m1, m8 = max_group(flat), max_group(salted)
    # the hot series dominates sample volume; 8-way salting must cut the
    # largest single group by at least 4x (hash balance isn't perfect)
    assert m8 <= m1 / 4, (m1, m8)

    # and the data survives intact either way
    n_flat = chunks.decode_chunks(flat, series=("series_key",)).count()
    n_salted = chunks.decode_chunks(salted, series=("series_key",)).count()
    assert n_flat == n_salted == samples.count()


def test_roundtrip_chunks_matches_unfused_pair(spark):
    """The fused roundtrip (one Python crossing) must be bit-identical to
    decode_chunks(encode_chunks(...)) — same kernels, same wire bytes —
    including under salting and mid-group Arrow-batch cuts."""
    seq = synth.sequences(spark, 300)
    samples = (
        synth.samples_from_sequences(seq)
        .groupBy("series_key", "ts_ms")
        .agg(F.max("value").alias("value"))
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    for salt, mcs in ((1, 4096), (4, 64)):
        fused = chunks.roundtrip_chunks(
            samples, series=("series_key",), salt=salt, max_chunk_samples=mcs
        )
        pair = chunks.decode_chunks(
            chunks.encode_chunks(
                samples, series=("series_key",), salt=salt,
                max_chunk_samples=mcs,
            ),
            series=("series_key",),
        )
        a = sorted(map(tuple, fused.collect()))
        b = sorted(map(tuple, pair.collect()))
        assert a == b, (salt, mcs, len(a), len(b))


@given(
    st.lists(st.integers(1, 50), min_size=0, max_size=40),
    st.integers(1, 16),
)
def test_split_runs_matches_loop(lengths, cap):
    """The vectorized oversized-group cut equals the plain loop it
    replaced: every run cut into cap-sized pieces from its start."""
    bounds = np.cumsum([0] + lengths).astype(np.int64)
    starts, ends, total = bounds[:-1], bounds[1:], int(bounds[-1])
    want_s, want_e = [], []
    for s, e in zip(starts, ends):
        for c in range(s, e, cap):
            want_s.append(c)
            want_e.append(min(c + cap, e))
    got_s, got_e = chunks._split_runs(starts, total, cap)
    assert got_s.tolist() == want_s and got_e.tolist() == want_e
