"""Chunk codecs: delta-of-delta timestamps + Gorilla XOR floats + Geode
compact ints — pure numpy, both directions fully vectorized. Public
algorithms:

* Gorilla XOR float compression and delta-of-delta timestamp buckets:
  Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
  Database", VLDB 2015 (the compression Prometheus TSDB chunks use —
  invoked by the reference at /root/reference/internal/tsdb/writer.go:34,60).
* Geode compact int encoding: implemented from the PUBLIC Apache Geode
  compact-value semantics — a token byte in [-128,-122] announces a
  2..8-byte big-endian two's-complement payload, any other byte IS the
  value (one byte covers [-121,127]). The reference's own decoder at
  /root/reference/internal/gfs/statarchive.go:1034-1088 is degenerate
  (its first `>= -128 && <= 127` branch matches every int8, so the token
  branches are unreachable, and the dead code uses little-endian
  payloads); we follow the real Geode wire form, not those dead lines.

Chunk format v2 ("section-split"): classic Gorilla interleaves control
bits and payloads, which forces a sequential decoder. We store the same
information in three *sections* — fixed-width control codes, fixed-width
headers, then concatenated variable-width payloads — so decode is
vectorized numpy end-to-end:

  ts_chunk:  [8B t0 LE] [1-bit nonzero flags x (n-1), padded]
             [2-bit bucket codes x nnz, padded]
             [zigzag dod payloads, widths from codes, padded]
             flag 0 -> dod==0 (no code, no payload);
             codes 0/1/2/3 -> 7/11/17/64-bit payloads
             reconstruction: ts = t0 + cumsum(cumsum(dods))
  val_chunk: [8B v0 LE] [1-bit diff flags x (n-1), padded]
             [11-bit headers (5 lead + 6 mean%64) per diff, padded]
             [meaningful-bit payloads, padded]
             reconstruction: bits(v_i) = v0 XOR cumulative-XOR(x_1..x_i)
             -> np.bitwise_xor.accumulate

Same asymptotic compression as interleaved Gorilla (identical per-sample
bit cost modulo padding <= 3 bytes/section); an order of magnitude faster
to decode in Python because nothing is per-sample.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_ALL1 = np.uint64(0xFFFFFFFFFFFFFFFF)

# ---------------------------------------------------------------------------
# bit-section helpers (all vectorized)
# ---------------------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = np.ascontiguousarray(v, dtype=np.int64)
    u = v.view(_U64)
    sign = (v >> np.int64(63)).view(_U64)
    return ((u << _U64(1)) & _ALL1) ^ sign


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(_U64)
    half = (u >> _U64(1)).astype(np.int64)
    return half ^ -(u & _U64(1)).astype(np.int64)


def _pack_var(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack vals[i]'s low nbits[i] bits (<=64 each), MSB-first, padded to
    a whole byte. Vectorized bit scatter via searchsorted."""
    vals = np.ascontiguousarray(vals, dtype=_U64)
    nbits = np.ascontiguousarray(nbits, dtype=np.int64)
    ends = np.cumsum(nbits)
    total = int(ends[-1]) if len(ends) else 0
    if total == 0:
        return b""
    starts = ends - nbits
    idx = np.arange(total, dtype=np.int64)
    elem = np.repeat(np.arange(len(nbits), dtype=np.int64), nbits)
    shift = (nbits[elem] - 1 - (idx - starts[elem])).astype(_U64)
    bits = ((vals[elem] >> shift) & _U64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _pack_fixed(vals: np.ndarray, width: int) -> bytes:
    if len(vals) == 0:
        return b""
    return _pack_var(vals, np.full(len(vals), width, dtype=np.int64))


def _unpack_fixed(bits: np.ndarray, start: int, count: int, width: int) -> np.ndarray:
    """Extract `count` fixed-`width` fields starting at bit `start`."""
    if count == 0:
        return np.empty(0, dtype=_U64)
    seg = bits[start : start + count * width].reshape(count, width).astype(_U64)
    weights = _U64(1) << np.arange(width - 1, -1, -1, dtype=_U64)
    return seg @ weights


def _unpack_var(bits: np.ndarray, start: int, widths: np.ndarray) -> np.ndarray:
    """Extract len(widths) variable-width fields (each >=1 bit) starting at
    bit `start`. Vectorized via per-bit shifts + add.reduceat."""
    widths = widths.astype(np.int64)
    n = len(widths)
    if n == 0:
        return np.empty(0, dtype=_U64)
    ends = np.cumsum(widths)
    total = int(ends[-1])
    starts = ends - widths
    idx = np.arange(total, dtype=np.int64)
    elem = np.repeat(np.arange(n, dtype=np.int64), widths)
    shift = (widths[elem] - 1 - (idx - starts[elem])).astype(_U64)
    terms = bits[start : start + total].astype(_U64) << shift
    return np.add.reduceat(terms, starts)


def _bits_of(buf: bytes) -> np.ndarray:
    return np.unpackbits(np.frombuffer(buf, dtype=np.uint8))


def _pad_bits(nbits: int) -> int:
    return (nbits + 7) // 8 * 8


# ---------------------------------------------------------------------------
# small-chunk scalar fast paths
# ---------------------------------------------------------------------------
# A 14-sample chunk pays ~40 numpy-call overheads (~100+ us) through the
# vectorized path; plain-int Python does the same work in ~10 us. Encode and
# decode dispatch on n: below _SMALL_N the scalar twins run, producing
# byte-identical output (hypothesis-tested equality in tests/test_codecs.py).
_SMALL_N = 96
_M64 = (1 << 64) - 1


def _pack_sections_scalar(sections: list[list[tuple[int, int]]]) -> bytes:
    """Each section = [(value, nbits)...], MSB-first, padded to a byte."""
    out = b""
    for pairs in sections:
        acc = 0
        total = 0
        for v, nb in pairs:
            acc = (acc << nb) | (v & ((1 << nb) - 1))
            total += nb
        if total:
            pad = (-total) % 8
            out += (acc << pad).to_bytes((total + pad) // 8, "big")
    return out


def _wrap64(x: int) -> int:
    """Two's-complement int64 wrap (match numpy's int64 arithmetic)."""
    return ((x + (1 << 63)) & _M64) - (1 << 63)


class _BitReader:
    __slots__ = ("acc", "total", "pos")

    def __init__(self, buf: bytes):
        self.acc = int.from_bytes(buf, "big")
        self.total = len(buf) * 8
        self.pos = 0

    def take(self, nb: int) -> int:
        self.pos += nb
        return (self.acc >> (self.total - self.pos)) & ((1 << nb) - 1)

    def align(self) -> None:
        self.pos += (-self.pos) % 8


# ---------------------------------------------------------------------------
# delta-of-delta timestamps
# ---------------------------------------------------------------------------

#: 2-bit bucket code (for nonzero dods) -> zigzag payload width
_DOD_WIDTHS = np.array([7, 11, 17, 64], dtype=np.int64)


def _dod_encode_small(ts: np.ndarray) -> bytes:
    t = [int(x) for x in ts]
    n = len(t)
    head = t[0].to_bytes(8, "little", signed=True)
    if n == 1:
        return head
    flags: list[tuple[int, int]] = []
    codes: list[tuple[int, int]] = []
    pays: list[tuple[int, int]] = []
    prev_d = 0
    prev = t[0]
    for i in range(1, n):
        d = _wrap64(t[i] - prev)
        dod = _wrap64(d - prev_d)
        prev, prev_d = t[i], d
        z = ((dod << 1) ^ (dod >> 63)) & _M64
        if z == 0:
            flags.append((0, 1))
            continue
        flags.append((1, 1))
        if z < (1 << 7):
            codes.append((0, 2)); pays.append((z, 7))
        elif z < (1 << 11):
            codes.append((1, 2)); pays.append((z, 11))
        elif z < (1 << 17):
            codes.append((2, 2)); pays.append((z, 17))
        else:
            codes.append((3, 2)); pays.append((z, 64))
    return head + _pack_sections_scalar([flags, codes, pays])


def _dod_decode_small(buf: bytes, n: int) -> np.ndarray:
    t0 = int.from_bytes(buf[:8], "little", signed=True)
    out = [0] * n
    out[0] = t0
    if n == 1:
        return np.array(out, dtype=np.int64)
    r = _BitReader(buf[8:])
    nz = [r.take(1) for _ in range(n - 1)]
    r.align()
    k = sum(nz)
    codes = [r.take(2) for _ in range(k)]
    r.align()
    widths = (7, 11, 17, 64)
    ci = 0
    d = 0
    cur = t0
    for i in range(n - 1):
        if nz[i]:
            z = r.take(widths[codes[ci]])
            ci += 1
            dod = (z >> 1) ^ -(z & 1)
        else:
            dod = 0
        d = _wrap64(d + dod)
        cur = _wrap64(cur + d)
        out[i + 1] = cur
    return np.array(out, dtype=np.int64)


def dod_encode(ts_ms: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 epoch-ms array (sorted).

    Sections: [1-bit nonzero flags x (n-1)] [2-bit bucket codes x nnz]
    [payloads] — a constant-cadence series costs ~1 bit/sample like
    interleaved Gorilla."""
    ts = np.ascontiguousarray(ts_ms, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return b""
    if n <= _SMALL_N:
        return _dod_encode_small(ts)
    head = ts[:1].astype("<i8").tobytes()
    if n == 1:
        return head
    deltas = np.diff(ts)
    dods = np.empty(n - 1, dtype=np.int64)
    dods[0] = deltas[0]  # first delta vs an implicit 0
    dods[1:] = np.diff(deltas)
    z = _zigzag(dods)
    nz = z != 0
    zn = z[nz]
    code = np.full(len(zn), 3, dtype=np.int64)
    code[zn < (1 << 17)] = 2
    code[zn < (1 << 11)] = 1
    code[zn < (1 << 7)] = 0
    return (
        head
        + _pack_fixed(nz.astype(_U64), 1)
        + _pack_fixed(code.astype(_U64), 2)
        + _pack_var(zn, _DOD_WIDTHS[code])
    )


def dod_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= _SMALL_N:
        return _dod_decode_small(buf, n)
    t0 = np.frombuffer(buf[:8], dtype="<i8")[0]
    if n == 1:
        return np.array([t0], dtype=np.int64)
    bits = _bits_of(buf[8:])
    nz = _unpack_fixed(bits, 0, n - 1, 1).astype(bool)
    k = int(nz.sum())
    code_start = _pad_bits(n - 1)
    code = _unpack_fixed(bits, code_start, k, 2).astype(np.int64)
    pay_start = code_start + _pad_bits(2 * k)
    z = np.zeros(n - 1, dtype=_U64)
    z[nz] = _unpack_var(bits, pay_start, _DOD_WIDTHS[code])
    dods = _unzigzag(z)
    deltas = np.cumsum(dods)
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    out[1:] = t0 + np.cumsum(deltas)
    return out


# ---------------------------------------------------------------------------
# Gorilla XOR floats
# ---------------------------------------------------------------------------


def _xor_encode_small(v: np.ndarray) -> bytes:
    bits = [int(b) for b in v.view(_U64)]
    head = bits[0].to_bytes(8, "little")
    n = len(bits)
    if n == 1:
        return head
    flags: list[tuple[int, int]] = []
    hdrs: list[tuple[int, int]] = []
    pays: list[tuple[int, int]] = []
    for i in range(1, n):
        x = bits[i] ^ bits[i - 1]
        if x == 0:
            flags.append((0, 1))
            continue
        flags.append((1, 1))
        lead = min(64 - x.bit_length(), 31)
        trail = (x & -x).bit_length() - 1
        mean = 64 - lead - trail
        hdrs.append(((lead << 6) | (mean % 64), 11))
        pays.append((x >> trail, mean))
    return head + _pack_sections_scalar([flags, hdrs, pays])


def _xor_decode_small(buf: bytes, n: int) -> np.ndarray:
    cur = int.from_bytes(buf[:8], "little")
    out = [0] * n
    out[0] = cur
    if n > 1:
        r = _BitReader(buf[8:])
        nz = [r.take(1) for _ in range(n - 1)]
        r.align()
        k = sum(nz)
        hdrs = [r.take(11) for _ in range(k)]
        r.align()
        ci = 0
        for i in range(n - 1):
            if nz[i]:
                h = hdrs[ci]
                ci += 1
                lead = h >> 6
                mean = h & 0x3F or 64
                trail = 64 - lead - mean
                cur ^= r.take(mean) << trail
            out[i + 1] = cur
    return np.array(out, dtype=_U64).view(np.float64)


def xor_encode(vals: np.ndarray) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.float64).view(_U64)
    n = len(v)
    if n == 0:
        return b""
    if n <= _SMALL_N:
        return _xor_encode_small(np.ascontiguousarray(vals, dtype=np.float64))
    head = v[:1].astype("<u8").tobytes()
    if n == 1:
        return head
    x = v[1:] ^ v[:-1]
    nz = x != 0
    flags = _pack_fixed(nz.astype(_U64), 1)
    lead = np.minimum(_clz64(x[nz]), 31)
    trail = _ctz64(x[nz])
    # ensure lead(5b) + mean(6b) fields stay consistent after clamping
    mean = 64 - lead - trail
    headers = (lead.astype(_U64) << _U64(6)) | (mean % 64).astype(_U64)
    payload = (x[nz] >> trail.astype(_U64)) & _mask(mean)
    return (
        head
        + flags
        + _pack_fixed(headers, 11)
        + _pack_var(payload, mean)
    )


def xor_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.float64)
    if n <= _SMALL_N:
        return _xor_decode_small(buf, n)
    v0 = np.frombuffer(buf[:8], dtype="<u8")[0]
    if n == 1:
        return np.array([v0], dtype=_U64).view(np.float64)
    bits = _bits_of(buf[8:])
    flags = _unpack_fixed(bits, 0, n - 1, 1).astype(bool)
    k = int(flags.sum())
    hdr_start = _pad_bits(n - 1)
    headers = _unpack_fixed(bits, hdr_start, k, 11)
    lead = (headers >> _U64(6)).astype(np.int64)
    mean = (headers & _U64(0x3F)).astype(np.int64)
    mean[mean == 0] = 64
    pay_start = hdr_start + _pad_bits(11 * k)
    payload = _unpack_var(bits, pay_start, mean)
    trail = (64 - lead - mean).astype(_U64)
    x = np.zeros(n - 1, dtype=_U64)
    x[flags] = payload << trail
    out = np.empty(n, dtype=_U64)
    out[0] = v0
    out[1:] = x
    return np.bitwise_xor.accumulate(out).view(np.float64)


def _mask(nbits: np.ndarray) -> np.ndarray:
    nb = nbits.astype(_U64)
    full = nb >= _U64(64)
    m = (_U64(1) << np.where(full, _U64(0), nb)) - _U64(1)
    return np.where(full, _ALL1, m)


def _clz64(x: np.ndarray) -> np.ndarray:
    """Leading zeros of uint64, vectorized (0 -> 64)."""
    out = np.full(len(x), 64, dtype=np.int64)
    nz = x != 0
    hi = (x[nz] >> _U64(32)).astype(np.uint32)
    lo = (x[nz] & _U64(0xFFFFFFFF)).astype(np.uint32)
    out[nz] = np.where(hi != 0, 32 - _bitlen32(hi), 64 - _bitlen32(lo))
    return out


def _ctz64(x: np.ndarray) -> np.ndarray:
    out = np.full(len(x), 64, dtype=np.int64)
    nz = x != 0
    low = x[nz] & (~x[nz] + _U64(1))
    out[nz] = 63 - _clz64(low)
    return out


def _bitlen32(x: np.ndarray) -> np.ndarray:
    """bit_length of uint32 via exact float64 log2 (uint32 fits mantissa)."""
    out = np.zeros(len(x), dtype=np.int64)
    nz = x != 0
    out[nz] = np.floor(np.log2(x[nz].astype(np.float64))).astype(np.int64) + 1
    return out


# ---------------------------------------------------------------------------
# Geode compact ints (reference input-path parity, byte-aligned)
# ---------------------------------------------------------------------------

_TOKEN_BASE = -130  # token for an N-byte payload is _TOKEN_BASE + N, N in 2..8
_MIN_1BYTE = -121
_MAX_1BYTE = 127


def _multi_widths(vm: np.ndarray) -> np.ndarray:
    """Payload width 2..8 for values outside the 1-byte range."""
    w = np.full(len(vm), 8, dtype=np.int64)
    for k in range(7, 1, -1):
        lo, hi = -(1 << (8 * k - 1)), (1 << (8 * k - 1)) - 1
        w[(vm >= lo) & (vm <= hi)] = k
    return w


def compact_sizes(vals: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (1, or 1 token + payload width)."""
    v = np.asarray(vals, dtype=np.int64)
    one = (v >= _MIN_1BYTE) & (v <= _MAX_1BYTE)
    tot = np.ones(len(v), dtype=np.int64)
    m = ~one
    if m.any():
        tot[m] = _multi_widths(v[m]) + 1
    return tot


def compact_encode(vals: np.ndarray) -> bytes:
    """Vectorized: classify widths (on the multi-byte subset only), cumsum
    byte offsets, then scatter per width class (<= 7 classes x <= 8 byte
    lanes = bounded small vector ops; no per-byte index arrays — those
    dominate on bandwidth-bound hosts)."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return b""
    one = (v >= _MIN_1BYTE) & (v <= _MAX_1BYTE)
    if one.all():
        return (v & 0xFF).astype(np.uint8).tobytes()
    m = ~one
    vm = v[m]
    w = _multi_widths(vm)
    tot = np.ones(n, dtype=np.int64)
    tot[m] = w + 1
    ends = np.cumsum(tot)
    starts = ends - tot
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    out[starts[one]] = (v[one] & 0xFF).astype(np.uint8)
    um = np.ascontiguousarray(vm).view(_U64)
    mstarts = starts[m]
    for k in range(2, 9):
        cls = w == k
        if not cls.any():
            continue
        s = mstarts[cls]
        u = um[cls]
        out[s] = (_TOKEN_BASE + k) & 0xFF
        for j in range(k):
            out[s + 1 + j] = ((u >> _U64((k - 1 - j) * 8)) & _U64(0xFF)).astype(
                np.uint8
            )
    return out.tobytes()


def _token_values(
    b: np.ndarray, is_one: np.ndarray, width_of, widths: tuple,
    signed: bool = False, stop: int | None = None,
) -> np.ndarray:
    """Values of a byte-token stream (the three Geode wire forms): a byte
    with ``is_one`` IS its value (``b``'s dtype gives its sign); any other
    byte announces a ``width_of(byte)``-byte big-endian payload
    (two's complement when ``signed``). ``stop``, if given, is a
    terminator byte; a trailing token whose payload is cut off ends the
    stream too.

    Token positions form a pointer chain (each token's width tells where
    the next starts) — inherently sequential. The sequential part is
    shrunk to the chain of MULTI-BYTE tokens only: a maximal run of
    1-byte tokens is all-tokens by construction, so from a multi token at
    p the next multi token is simply the first multi-LOOKING byte at or
    after p+1+width (everything between is a 1-byte run). That chain is a
    map over the (small) candidate array — enumerated by pointer doubling
    in O(log m) whole-array rounds, no per-token Python. Everything else
    (token mask, payload combine) is bounded width-class vector ops."""
    u8 = b.view(np.uint8)
    n = len(b)
    end = n
    cand = np.flatnonzero(~is_one)  # positions that LOOK like multi tokens
    mt = wm = np.empty(0, dtype=np.int64)
    if len(cand):
        c = len(cand)
        wc = width_of(b[cand])
        # candidate-index chain: from real multi token i, the next multi
        # token is the first candidate at or after its landing point
        g = np.append(np.searchsorted(cand, cand + 1 + wc), c)  # sentinel
        # orbit of candidate 0 (the first candidate IS the first multi
        # token: every byte before it is a 1-byte token) by doubling
        pos = np.array([0], dtype=np.int64)
        gk = g
        while pos[-1] < c:
            pos = np.concatenate([pos, gk[pos]])
            gk = gk[gk]
        pos = pos[pos < c]
        mt, wm = cand[pos], wc[pos]  # real multi-token positions, ascending
        if stop is not None:
            term = np.flatnonzero(u8[mt] == stop)
            if len(term):
                end = int(mt[term[0]])
                mt, wm = mt[: term[0]], wm[: term[0]]
        ok = mt + wm < end
        if not ok.all():
            # truncated trailing token: nothing at or after it is a token
            end = int(mt[~ok][0])
            mt, wm = mt[ok], wm[ok]
    tok_mask = np.zeros(n, dtype=bool)
    tok_mask[:end] = True
    # payload bytes are not tokens: clear per width class (<=7x8 lanes)
    classes = [(k, mt[wm == k]) for k in widths]
    for k, p in classes:
        for j in range(1, k + 1):
            tok_mask[p + j] = False
    pos_all = np.flatnonzero(tok_mask)
    one = is_one[pos_all]
    vals = np.empty(len(pos_all), dtype=np.int64)
    vals[one] = b[pos_all[one]]
    for k, p in classes:
        if not len(p):
            continue
        u = np.zeros(len(p), dtype=_U64)
        for j in range(k):
            u = (u << _U64(8)) | u8[p + 1 + j].astype(_U64)
        ui = u.view(np.int64)  # two's complement exact for k=8
        if signed and k < 8:
            half = np.int64(1) << (8 * k - 1)
            ui = np.where(ui >= half, ui - (np.int64(1) << (8 * k)), ui)
        vals[np.searchsorted(pos_all, p)] = ui
    return vals


def compact_decode(buf: bytes) -> np.ndarray:
    """Inverse of compact_encode (token chain walk: _token_values)."""
    b = np.frombuffer(buf, dtype=np.int8)
    return _token_values(
        b, b >= _MIN_1BYTE, lambda t: t.astype(np.int64) - _TOKEN_BASE,
        range(2, 9), signed=True,
    )


# ---------------------------------------------------------------------------
# Java modified UTF-8 (DataOutputStream.writeUTF payload form)
# ---------------------------------------------------------------------------
# The reference reads series/type names with readUTF
# (/root/reference/internal/gfs/statarchive.go:269-294): uint16 big-endian
# byte length, then modified UTF-8 — standard UTF-8 for U+0001..U+FFFF
# except U+0000 -> C0 80, and supplementary chars as a UTF-16 surrogate
# pair with EACH surrogate encoded as a 3-byte sequence (CESU-8). Both
# directions below are batched: one numpy pass over the concatenated
# UTF-16 code units / bytes of ALL names in an Arrow batch.


def mutf8_encode_batch(names: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """-> (concatenated mutf8 bytes uint8 array, per-name byte lengths)."""
    if not names:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    enc = [s.encode("utf-16-be", "surrogatepass") for s in names]
    ulens = np.fromiter((len(e) >> 1 for e in enc), dtype=np.int64, count=len(enc))
    units = np.frombuffer(b"".join(enc), dtype=">u2").astype(np.uint32)
    nb = np.where(
        (units >= 1) & (units < 0x80), 1, np.where(units < 0x800, 2, 3)
    ).astype(np.int64)  # NUL (0) takes the 2-byte C0 80 form
    cs = np.concatenate([[0], np.cumsum(nb)])
    out = np.empty(int(cs[-1]), dtype=np.uint8)
    starts = cs[:-1]
    m1 = nb == 1
    out[starts[m1]] = units[m1]
    m2 = nb == 2
    out[starts[m2]] = 0xC0 | (units[m2] >> 6)
    out[starts[m2] + 1] = 0x80 | (units[m2] & 0x3F)
    m3 = nb == 3
    out[starts[m3]] = 0xE0 | (units[m3] >> 12)
    out[starts[m3] + 1] = 0x80 | ((units[m3] >> 6) & 0x3F)
    out[starts[m3] + 2] = 0x80 | (units[m3] & 0x3F)
    uoff = np.concatenate([[0], np.cumsum(ulens)])
    lens = cs[uoff[1:]] - cs[uoff[:-1]]
    return out, lens.astype(np.int64)


def mutf8_decode_batch(buf: np.ndarray, lens: np.ndarray) -> list[str]:
    """Inverse of mutf8_encode_batch over a concatenated uint8 buffer."""
    b = np.ascontiguousarray(buf, dtype=np.uint8)
    if len(b) == 0:
        return ["" for _ in range(len(lens))]
    lead = (b & 0xC0) != 0x80
    pos = np.flatnonzero(lead)
    b1 = b[pos].astype(np.uint32)
    nxt = np.minimum(pos + 1, len(b) - 1)
    nxt2 = np.minimum(pos + 2, len(b) - 1)
    b2 = b[nxt].astype(np.uint32) & 0x3F
    b3 = b[nxt2].astype(np.uint32) & 0x3F
    units = np.where(
        b1 < 0x80,
        b1,
        np.where(
            (b1 >> 5) == 0b110,
            ((b1 & 0x1F) << 6) | b2,
            ((b1 & 0x0F) << 12) | (b2 << 6) | b3,
        ),
    ).astype(">u2")
    # map lead positions to names via byte offsets
    boff = np.concatenate([[0], np.cumsum(np.asarray(lens, dtype=np.int64))])
    cuts = np.searchsorted(pos, boff)
    raw = units.tobytes()
    return [
        raw[2 * cuts[i] : 2 * cuts[i + 1]].decode("utf-16-be", "surrogatepass")
        for i in range(len(lens))
    ]


# ---------------------------------------------------------------------------
# Geode compact resource-instance ids (D4)
# ---------------------------------------------------------------------------
# The reference walks these in its sample loop
# (/root/reference/internal/gfs/statarchive.go:1330-1345): one byte 0..252
# is the id itself; 253 announces a 2-byte big-endian id, 254 a 4-byte id,
# and 255 (ILLEGAL_RESOURCE_INST_ID) terminates the list — the public
# Apache Geode StatArchiveWriter resource-inst-id form. Vectorized with the
# same machinery as the compact-int codec: width-class scatter on encode,
# candidate-chain pointer doubling on decode.

_RID_SHORT = 253
_RID_INT = 254
_RID_END = 255


def resource_id_encode(ids: np.ndarray) -> bytes:
    """ids (0..2^31-1) -> token stream, 255-terminated."""
    v = np.ascontiguousarray(ids, dtype=np.int64)
    if ((v < 0) | (v > 0x7FFFFFFF)).any():
        raise ValueError("resource ids must be in [0, 2^31-1]")
    tot = np.where(v <= 252, 1, np.where(v <= 0xFFFF, 3, 5))
    ends = np.cumsum(tot)
    starts = ends - tot
    out = np.empty((int(ends[-1]) if len(v) else 0) + 1, dtype=np.uint8)
    m1 = tot == 1
    out[starts[m1]] = v[m1]
    m2 = tot == 3
    if m2.any():
        s, u = starts[m2], v[m2]
        out[s] = _RID_SHORT
        out[s + 1] = u >> 8
        out[s + 2] = u & 0xFF
    m4 = tot == 5
    if m4.any():
        s, u = starts[m4], v[m4]
        out[s] = _RID_INT
        for j in range(4):
            out[s + 1 + j] = (u >> (8 * (3 - j))) & 0xFF
    out[-1] = _RID_END
    return out.tobytes()


def resource_id_decode(buf: bytes) -> np.ndarray:
    """Inverse of resource_id_encode (stops at the 255 terminator)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    return _token_values(
        b, b < _RID_SHORT,
        lambda t: np.where(t == _RID_SHORT, 2, np.where(t == _RID_INT, 4, 0)),
        (2, 4), stop=_RID_END,
    )


# ---------------------------------------------------------------------------
# timestamp-delta tokens (D1 wire form)
# ---------------------------------------------------------------------------
# The reference's updateTimeStamp (/root/reference/internal/gfs/
# statarchive.go:296-316): a token byte < 252 IS the delta; 252 announces a
# 2-byte delta; anything larger a 4-byte delta (big-endian; the reader
# honors the archive's byte order, big-endian for the Java writer).
# Encode writes 253 for the 4-byte case so the roundtrip is canonical.

_TS_SHORT = 252
_TS_INT = 253


def ts_token_encode(ts_ms: np.ndarray) -> bytes:
    """Sorted int64 epoch-ms -> [u64 t0 BE][delta tokens x (n-1)]."""
    ts = np.ascontiguousarray(ts_ms, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return b""
    head = ts[:1].astype(">i8").tobytes()
    d = np.diff(ts)
    if (d < 0).any() or (d > 0xFFFFFFFF).any():
        raise ValueError("deltas must be in [0, 2^32-1] (sorted, <49.7d apart)")
    tot = np.where(d < _TS_SHORT, 1, np.where(d <= 0xFFFF, 3, 5))
    ends = np.cumsum(tot)
    starts = ends - tot
    out = np.empty(int(ends[-1]) if n > 1 else 0, dtype=np.uint8)
    m1 = tot == 1
    out[starts[m1]] = d[m1]
    m2 = tot == 3
    if m2.any():
        s, u = starts[m2], d[m2]
        out[s] = _TS_SHORT
        out[s + 1] = u >> 8
        out[s + 2] = u & 0xFF
    m4 = tot == 5
    if m4.any():
        s, u = starts[m4], d[m4]
        out[s] = _TS_INT
        for j in range(4):
            out[s + 1 + j] = (u >> (8 * (3 - j))) & 0xFF
    return head + out.tobytes()


def ts_token_decode(buf: bytes, n: int) -> np.ndarray:
    """Inverse: n timestamps from the token stream (candidate-chain walk,
    mirroring the reader's token dispatch at statarchive.go:300-315)."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    t0 = int.from_bytes(buf[:8], "big", signed=True)
    if n == 1:
        return np.array([t0], dtype=np.int64)
    b = np.frombuffer(buf[8:], dtype=np.uint8)
    d = _token_values(
        b, b < _TS_SHORT, lambda t: np.where(t == _TS_SHORT, 2, 4), (2, 4)
    )
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    deltas = np.zeros(n - 1, dtype=np.int64)
    k = min(len(d), n - 1)
    deltas[:k] = d[:k]  # truncated tail -> remaining ts repeat the last
    out[1:] = t0 + np.cumsum(deltas)
    return out
