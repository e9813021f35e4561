"""Property tests for the chunk codecs (SURVEY.md §5.2-3): random seeded
series must survive encode->decode bit-for-bit."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfs_to_prometheus_spark import codecs


def test_dod_roundtrip_typical_cadence():
    rng = np.random.default_rng(42)
    ts = 1704067200000 + np.cumsum(
        rng.integers(900, 1100, size=5000)
    ).astype(np.int64)
    assert np.array_equal(codecs.dod_decode(codecs.dod_encode(ts), len(ts)), ts)


def test_dod_roundtrip_constant_cadence_compresses():
    ts = 1704067200000 + 1000 * np.arange(10000, dtype=np.int64)
    enc = codecs.dod_encode(ts)
    assert np.array_equal(codecs.dod_decode(enc, len(ts)), ts)
    # t0(64) + first delta (~2+7) + 9998 zero bits -> ~1.27 kB vs 80 kB raw
    assert len(enc) < len(ts) * 8 / 50


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62 - 1),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_dod_roundtrip_hypothesis(xs):
    ts = np.sort(np.array(xs, dtype=np.int64)) if xs else np.empty(0, np.int64)
    assert np.array_equal(codecs.dod_decode(codecs.dod_encode(ts), len(ts)), ts)


def test_xor_roundtrip_walk():
    rng = np.random.default_rng(42)
    v = np.cumsum(rng.normal(0, 1, 5000))
    out = codecs.xor_decode(codecs.xor_encode(v), len(v))
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))


def test_xor_constant_series_compresses():
    v = np.full(10000, 997.4038)  # the reference's golden value
    enc = codecs.xor_encode(v)
    assert np.array_equal(codecs.xor_decode(enc, len(v)), v)
    assert len(enc) < len(v)  # ~1 bit/sample after the first


@given(
    st.lists(
        st.floats(allow_nan=False, width=64),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_xor_roundtrip_hypothesis(xs):
    v = np.array(xs, dtype=np.float64)
    out = codecs.xor_decode(codecs.xor_encode(v), len(v))
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))


def test_xor_nan_bits_preserved():
    v = np.array([1.0, float("nan"), float("inf"), -0.0, 0.0])
    out = codecs.xor_decode(codecs.xor_encode(v), len(v))
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_compact_roundtrip_hypothesis(xs):
    v = np.array(xs, dtype=np.int64)
    assert np.array_equal(codecs.compact_decode(codecs.compact_encode(v)), v)


@pytest.mark.parametrize(
    "val,nbytes",
    [(0, 1), (127, 1), (-121, 1), (-122, 3), (128, 3), (32767, 3),
     (32768, 4), (2**62, 9)],
)
def test_compact_sizes(val, nbytes):
    """Byte-width semantics of the Geode compact form
    (/root/reference/internal/gfs/statarchive.go:1034-1088: 1-byte direct,
    token + N-byte big-endian otherwise)."""
    assert len(codecs.compact_encode(np.array([val]))) == nbytes


# ---------------------------------------------------------------------------
# modified UTF-8 (Java writeUTF payload form) — D5
# ---------------------------------------------------------------------------

from gfs_to_prometheus_spark.codecs import (
    compact_encode,
    compact_sizes,
    mutf8_decode_batch,
    mutf8_encode_batch,
)


def _mutf8_roundtrip(names):
    buf, lens = mutf8_encode_batch(names)
    assert int(lens.sum()) == len(buf)
    return mutf8_decode_batch(buf, lens)


def test_mutf8_roundtrip_mixed():
    names = ["", "a", "café", "序列-01", "🚀🎉", "nul\x00inside", "\x00",
             "Ω ﬂ \U0001F600 end", "x" * 70000]
    assert _mutf8_roundtrip(names) == names


def test_mutf8_spec_bytes():
    # NUL -> C0 80 (never a raw 0x00 byte — the Java modified form)
    buf, lens = mutf8_encode_batch(["\x00"])
    assert bytes(buf) == b"\xc0\x80"
    # supplementary char -> CESU-8: surrogate pair, 3 bytes each
    buf, lens = mutf8_encode_batch(["\U0001F680"])
    assert len(buf) == 6
    s = "\U0001F680".encode("utf-16-be")
    hi = int.from_bytes(s[:2], "big")
    lo = int.from_bytes(s[2:], "big")
    exp = bytes(
        [0xE0 | (hi >> 12), 0x80 | ((hi >> 6) & 0x3F), 0x80 | (hi & 0x3F),
         0xE0 | (lo >> 12), 0x80 | ((lo >> 6) & 0x3F), 0x80 | (lo & 0x3F)]
    )
    assert bytes(buf) == exp
    # BMP strings match standard UTF-8 (spec: identical outside NUL/astral)
    buf, lens = mutf8_encode_batch(["café 序列 Ω"])
    assert bytes(buf) == "café 序列 Ω".encode("utf-8")


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x10FFFF,
                                   exclude_categories=("Cs",)),
            max_size=40,
        ),
        max_size=8,
    )
)
def test_mutf8_roundtrip_hypothesis(names):
    assert _mutf8_roundtrip(names) == names


def test_compact_encode_kernel_speed():
    """The wire encode kernel must be vectorized: >= 10M values/s on a
    realistic mostly-small stream (the old per-value Python loop managed
    ~1.5M/s; the vectorized kernel measures 15-25M/s on this host)."""
    import time

    rng = np.random.default_rng(3)
    v = np.concatenate(
        [rng.integers(-120, 127, 900_000), rng.integers(-(2**30), 2**30, 100_000)]
    ).astype(np.int64)
    v = rng.permutation(v)
    compact_encode(v)  # warm
    best = min(
        (lambda t0: (compact_encode(v), time.time() - t0)[1])(time.time())
        for _ in range(5)  # best-of-5: robust to suite-level CPU contention
    )
    assert len(v) / best >= 6_000_000, f"{len(v)/best:.0f} vals/s"


def _batch(rng, ns):
    """Chunks of ``ns`` samples mixing constant cadence, jitter, repeated
    timestamps, 64-bit dods, repeated values, NaN/+-Inf/-0.0 and random
    float bit patterns -> (ts, vals, sample offsets)."""
    ts, vals = [], []
    for n in ns:
        step = rng.choice([0, 1, 15_000, 2**33], size=n, p=[0.1, 0.1, 0.6, 0.2])
        t0 = rng.integers(-(2**40), 2**40)
        ts.append(t0 + np.cumsum(step + rng.integers(0, 3, n) * (step > 1)))
        kind = rng.integers(0, 4, n)
        v = np.round(rng.normal(50, 10, n), 2)
        specials = [np.nan, np.inf, -np.inf, 0.0, -0.0]
        v[kind == 1] = rng.choice(specials, (kind == 1).sum())
        bits = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
        bits <<= np.uint64(1)
        v[kind == 2] = bits.view(np.float64)[kind == 2]
        v[1:][kind[1:] == 3] = v[:-1][kind[1:] == 3]
        vals.append(v)
    offsets = np.concatenate([[0], np.cumsum(ns)])
    return np.concatenate(ts).astype(np.int64), np.concatenate(vals), offsets


@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=100, deadline=None)
def test_batch_codec_matches_single_chunks(ns, seed):
    """Each chunk's slice of a batch encode equals that chunk encoded
    alone, and the batch decode returns every input bit for bit."""
    t, v, off = _batch(np.random.default_rng(seed), np.array(ns))
    tb, toff = codecs.dod_encode_many(t, off)
    vb, voff = codecs.xor_encode_many(v, off)
    for c in range(len(ns)):
        a, b = off[c], off[c + 1]
        assert tb[toff[c] : toff[c + 1]] == codecs.dod_encode(t[a:b])
        assert vb[voff[c] : voff[c + 1]] == codecs.xor_encode(v[a:b])
    assert np.array_equal(codecs.dod_decode_many(tb, toff, ns), t)
    got = codecs.xor_decode_many(vb, voff, ns)
    assert np.array_equal(got.view(np.uint64), v.view(np.uint64))


def test_batch_codec_digest():
    """Pins the bytes of one seeded 80-chunk, 6014-sample batch (n==1
    heads up to n=300). The digest was taken from the per-chunk scalar and
    vectorized encoders that the batch codec replaced."""
    import hashlib

    rng = np.random.default_rng(4)
    ns = np.concatenate([[1, 2, 96, 97, 300], rng.integers(1, 130, 75)])
    t, v, off = _batch(rng, ns)
    tb, _ = codecs.dod_encode_many(t, off)
    vb, _ = codecs.xor_encode_many(v, off)
    assert hashlib.sha256(tb + vb).hexdigest() == (
        "3c4087fbd695e68df8ccf634b19dfbc8ad384b1be37b9a79e20d7be77ddf46bb"
    )


@pytest.mark.parametrize("codec", ["dod", "xor"])
@pytest.mark.parametrize("resize", ["head", "short", "long"])
def test_batch_decode_rejects_bad_chunk_length(codec, resize):
    """A truncated or over-long chunk in the middle of a batch raises a
    ValueError naming its index instead of reading its neighbour's bytes."""
    t, v, off = _batch(np.random.default_rng(7), np.array([3, 40, 5]))
    enc, dec = {
        "dod": (lambda: codecs.dod_encode_many(t, off), codecs.dod_decode_many),
        "xor": (lambda: codecs.xor_encode_many(v, off), codecs.xor_decode_many),
    }[codec]
    buf, boff = enc()
    parts = [buf[boff[c] : boff[c + 1]] for c in range(3)]
    parts[1] = {
        "head": parts[1][:4],
        "short": parts[1][:-1],
        "long": parts[1] + b"\x00",
    }[resize]
    boff = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
    with pytest.raises(ValueError, match=r"_chunk 1 of the batch"):
        dec(b"".join(parts), boff, np.diff(off))


def test_xor_decode_rejects_bad_header():
    """An 11-bit header whose leading zeros plus length exceed 64 bits
    (lead 31, length 63) cannot come from the encoder."""
    hdr = (31 << 6) | 63
    buf = bytes(8) + b"\x80" + (hdr << 5).to_bytes(2, "big") + bytes(8)
    with pytest.raises(ValueError, match=r"val_chunk 0 of the batch has header"):
        codecs.xor_decode(buf, 2)


@given(
    st.lists(
        st.one_of(
            st.integers(0, 252),
            st.integers(253, 0xFFFF),
            st.integers(0x10000, 2**31 - 1),
        ),
        max_size=300,
    )
)
def test_resource_id_roundtrip_hypothesis(ids):
    v = np.array(ids, dtype=np.int64)
    buf = codecs.resource_id_encode(v)
    assert buf[-1] == 255  # ILLEGAL_RESOURCE_INST_ID terminator
    assert np.array_equal(codecs.resource_id_decode(buf), v)


def test_resource_id_wire_bytes():
    buf = codecs.resource_id_encode(np.array([7, 253, 70000], dtype=np.int64))
    assert buf == bytes([7, 253, 0, 253, 254, 0, 1, 17, 112, 255])


@given(
    st.lists(
        st.one_of(
            st.integers(0, 251),
            st.integers(252, 0xFFFF),
            st.integers(0x10000, 0xFFFFFFFF),
        ),
        max_size=300,
    ),
    st.integers(0, 2**40),
)
def test_ts_token_roundtrip_hypothesis(deltas, t0):
    ts = (t0 + np.cumsum([0] + deltas)).astype(np.int64)
    buf = codecs.ts_token_encode(ts)
    assert np.array_equal(codecs.ts_token_decode(buf, len(ts)), ts)


def test_ts_token_wire_bytes():
    """statarchive.go:300-315 dispatch: <252 inline, 252 -> u16, else u32."""
    ts = np.array([1000, 1005, 1000 + 5 + 300, 1000 + 5 + 300 + 70000],
                  dtype=np.int64)
    buf = codecs.ts_token_encode(ts)
    assert buf[:8] == (1000).to_bytes(8, "big")
    assert buf[8:] == bytes([5, 252, 1, 44, 253, 0, 1, 17, 112])


def _golden_inputs(n):
    if n == 5:
        t = 1_700_000_000_000 + np.array([0, 1000, 2000, 3015, 5000], np.int64)
        return t, np.array([1.0, 1.0, 2.5, -3.25, 997.4038])
    i = np.arange(n, dtype=np.int64)
    t = 1_700_000_000_000 + 15_000 * i
    # one dod in each payload class: 7, 11, 17 and 64 bits
    t[10:] += 37
    t[40:] += 900
    t[70:] += 60_000
    t[100:] += 10**9
    return t, np.where(i % 8 == 0, i * 0.25, np.floor(i / 8) * 1.5)


@pytest.mark.parametrize(
    "n, ts_hex, val_hex",
    [
        # a short chunk: 1-, 7- and 11-bit fields
        (5, "0068e5cf8b010000b044fa07bca0",
         "000000000000f03f7009a03c1c00ffec00780852b3afb7e910"),
        # a long chunk: one dod in each payload class
        (120,
         "0068e5cf8b010000806000000180000006000000180000816bc03a984a93c238"
         "3f5303a97e00000000ee6b280000000000ee6b27fe",
         "0000000000000000018181818181818181818181818180082130262c2582c0d4"
         "2a83508a1542b03606c1162ac2588b1562ac4584d1182b03602c1582b040ffff"
         "fefb9ffdddf35f73fdf6373fc8"),
    ],
)
def test_chunk_wire_bytes(n, ts_hex, val_hex):
    """Pins the stored chunk format. ts_chunk: [8B t0 LE][1-bit nonzero
    flags x (n-1)][2-bit codes x nnz][payloads]; val_chunk: [8B v0 LE]
    [1-bit flags x (n-1)][11-bit headers x nnz][payloads], each section
    padded to a byte. At n=5 the dods are 1000, 0, 15, 970: flags 1011,
    codes 01 00 01, payloads zigzag 2000/11b, 30/7b, 1940/11b."""
    t, v = _golden_inputs(n)
    assert codecs.dod_encode(t).hex() == ts_hex
    assert codecs.xor_encode(v).hex() == val_hex
    assert np.array_equal(codecs.dod_decode(bytes.fromhex(ts_hex), n), t)
    assert np.array_equal(codecs.xor_decode(bytes.fromhex(val_hex), n), v)
