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
bit cost modulo padding <= 3 bytes/section).

Each format has ONE implementation, batched: ``dod_encode_many`` /
``xor_encode_many`` pack every chunk of an Arrow batch (sample offsets in,
concatenated bytes + byte offsets out) and ``dod_decode_many`` /
``xor_decode_many`` invert them, in a fixed number of whole-batch numpy
calls whatever the chunk lengths — nothing is per-sample or per-chunk.
``dod_encode``/``xor_encode`` and their decoders are one-chunk calls of
the same functions. Decode checks every chunk's stored length against the
length its n, flags and headers imply and raises ValueError naming the
chunk, so a damaged chunk never reads its neighbour's bytes.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_ALL1 = np.uint64(0xFFFFFFFFFFFFFFFF)

# ---------------------------------------------------------------------------
# batched bit sections: the one layout, put and get behind both chunk formats
# ---------------------------------------------------------------------------
# A batch is m chunks over concatenated samples: chunk c holds samples
# offsets[c]:offsets[c+1]. Every field of every chunk gets an absolute bit
# position in the batch's output, so each codec is a fixed number of whole-
# batch numpy calls whatever the chunk lengths; per-chunk restarts (ranks,
# running sums) are global prefix sums minus the prefix at each chunk head.


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = np.ascontiguousarray(v, dtype=np.int64)
    u = v.view(_U64)
    sign = (v >> np.int64(63)).view(_U64)
    return ((u << _U64(1)) & _ALL1) ^ sign


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(_U64)
    half = (u >> _U64(1)).astype(np.int64)
    return half ^ -(u & _U64(1)).astype(np.int64)


def _cum(x) -> np.ndarray:
    """Exclusive prefix sums with the total appended (len(x) + 1)."""
    return np.concatenate([np.zeros(1, np.int64), np.cumsum(x, dtype=np.int64)])


def _split(n: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sample index of each nonempty chunk's head, mask of later samples)."""
    heads = (np.cumsum(n) - n)[n > 0]
    later = np.ones(int(n.sum()), dtype=bool)
    later[heads] = False
    return heads, later


def _layout(n, k, hdr_w: int, pay_bits) -> np.ndarray:
    """Byte size of each chunk's sections -> (m, 4): the 8-byte head, the
    1-bit flags x (n-1), the ``hdr_w``-bit headers x k (one per set flag)
    and ``pay_bits`` of payload, each section padded to a byte."""
    bits = np.stack(
        np.broadcast_arrays(64 * (n > 0), np.maximum(n - 1, 0), hdr_w * k, pay_bits),
        axis=1,
    )
    return (bits + 7) // 8


def _starts(byte_start: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    """Absolute bit position of each chunk's sections -> (m, 4)."""
    return 8 * (byte_start[:, None] + np.cumsum(sizes, axis=1) - sizes)


def _put(words: np.ndarray, pos: np.ndarray, width, vals) -> None:
    """OR each value's low ``width`` (1..64) bits, MSB first, into the
    big-endian bit stream ``words`` at bit ``pos``. A field touches at most
    two words; ``s`` is the room left after it in its first word."""
    v = np.broadcast_to(np.asarray(vals, dtype=_U64), pos.shape)
    s = 64 - (pos & 63) - width
    first = np.where(
        s >= 0, v << np.maximum(s, 0).astype(_U64), v >> np.maximum(-s, 0).astype(_U64)
    )
    np.bitwise_or.at(words, pos >> 6, first)
    spill = s < 0
    rest = v[spill] << (64 + s[spill]).astype(_U64)
    np.bitwise_or.at(words, (pos >> 6)[spill] + 1, rest)


def _get(words: np.ndarray, pos: np.ndarray, width) -> np.ndarray:
    """The ``width``-bit (1..64) fields at bit ``pos`` of ``words`` (which
    ends with a spare zero word)."""
    w = pos >> 6
    off = (pos & 63).astype(_U64)
    # two shifts, so that off == 0 shifts the next word out entirely
    top = (words[w] << off) | ((words[w + 1] >> _U64(1)) >> (_U64(63) - off))
    return top >> (64 - np.asarray(width, dtype=np.int64)).astype(_U64)


def _pack(n, head, nz, hdr, hdr_w: int, pay, pay_w) -> tuple[bytes, np.ndarray]:
    """Write a batch of chunks -> (bytes, per-chunk byte offsets). ``head``:
    each nonempty chunk's first sample as raw bits; ``nz``: the flag of
    every later sample; ``hdr``/``pay``/``pay_w``: the header, payload and
    payload width of each set flag, in sample order."""
    body = np.maximum(n - 1, 0)
    c_body = np.repeat(np.arange(len(n)), body)
    bo = _cum(body)
    kb = _cum(nz)[bo]  # index of each chunk's first set flag
    wc = _cum(pay_w)
    sizes = _layout(n, np.diff(kb), hdr_w, np.diff(wc[kb]))
    byte_off = _cum(sizes.sum(axis=1))
    sec = _starts(byte_off[:-1], sizes)
    c_nz = c_body[nz]
    words = np.zeros(int(byte_off[-1]) // 8 + 2, dtype=_U64)
    # the head is stored little-endian: byte-swap it into the big-endian stream
    _put(words, sec[n > 0, 0], 64, np.asarray(head, dtype=_U64).byteswap())
    _put(words, sec[c_nz, 1] + np.flatnonzero(nz) - bo[c_nz], 1, 1)
    _put(words, sec[c_nz, 2] + hdr_w * (np.arange(len(c_nz)) - kb[c_nz]), hdr_w, hdr)
    _put(words, sec[c_nz, 3] + wc[:-1] - wc[kb[c_nz]], pay_w, pay)
    return words.astype(">u8").tobytes()[: byte_off[-1]], byte_off


def _unpack(buf, byte_offsets, n, hdr_w: int, width_of, what: str):
    """Read a batch of chunks -> (head bits per nonempty chunk, flag per
    later sample, header and payload per set flag, chunk of each set flag).

    Each chunk's stored length is checked one section at a time against
    the length its n, then its flags, then its headers imply, BEFORE that
    section is read, so no field is ever read from a neighbour's bytes."""
    b = np.frombuffer(buf, dtype=np.uint8)
    words = np.zeros(len(b) // 8 + 2, dtype=">u8")
    words.view(np.uint8)[: len(b)] = b
    words = words.astype(_U64)
    byte_offsets = np.asarray(byte_offsets, dtype=np.int64)
    have = np.diff(byte_offsets)

    def sections(k, pay_bits, upto: int, basis: str) -> np.ndarray:
        sizes = _layout(n, k, hdr_w, pay_bits)
        need = sizes[:, :upto].sum(axis=1)
        exact = upto == 4
        bad = np.flatnonzero(need != have if exact else need > have)
        if len(bad):
            i = bad[0]
            raise ValueError(
                f"{what} {i} of the batch has {have[i]} bytes; n={n[i]}{basis} "
                f"implies {'exactly' if exact else 'at least'} {need[i]}"
            )
        return _starts(byte_offsets[:-1], sizes)

    body = np.maximum(n - 1, 0)
    c_body = np.repeat(np.arange(len(n)), body)
    bo = _cum(body)
    sec = sections(0, 0, 2, "")
    head = _get(words, sec[n > 0, 0], 64).byteswap()
    nz = _get(words, sec[c_body, 1] + np.arange(len(c_body)) - bo[c_body], 1) == 1
    kb = _cum(nz)[bo]
    c_nz = c_body[nz]
    sec = sections(np.diff(kb), 0, 3, " with its flags")
    hdr = _get(words, sec[c_nz, 2] + hdr_w * (np.arange(len(c_nz)) - kb[c_nz]), hdr_w)
    pay_w = width_of(hdr)
    wc = _cum(pay_w)
    sec = sections(np.diff(kb), np.diff(wc[kb]), 4, " with its flags and headers")
    pay = _get(words, sec[c_nz, 3] + wc[:-1] - wc[kb[c_nz]], pay_w)
    return head, nz, hdr, pay, c_nz


# ---------------------------------------------------------------------------
# delta-of-delta timestamps
# ---------------------------------------------------------------------------

#: 2-bit bucket code (for nonzero dods) -> zigzag payload width
_DOD_WIDTHS = np.array([7, 11, 17, 64], dtype=np.int64)
_DOD_LIMITS = _U64(1) << _DOD_WIDTHS[:3].astype(_U64)


def dod_encode_many(ts_ms: np.ndarray, offsets) -> tuple[bytes, np.ndarray]:
    """Delta-of-delta encode every chunk ``ts_ms[offsets[c]:offsets[c+1]]``
    (each sorted epoch-ms) -> (concatenated ts_chunk bytes, per-chunk byte
    offsets). A constant-cadence chunk costs ~1 bit/sample."""
    ts = np.ascontiguousarray(ts_ms, dtype=np.int64)
    n = np.diff(np.asarray(offsets, dtype=np.int64))
    heads, later = _split(n)
    delta = np.diff(ts, prepend=ts[:1])
    delta[heads] = 0  # the first delta is taken against an implicit 0
    z = _zigzag(np.diff(delta, prepend=np.int64(0))[later])
    nz = z != 0
    zn = z[nz]
    code = np.searchsorted(_DOD_LIMITS, zn, side="right")
    return _pack(n, ts[heads].view(_U64), nz, code, 2, zn, _DOD_WIDTHS[code])


def dod_decode_many(buf, byte_offsets, ns) -> np.ndarray:
    """Inverse of dod_encode_many: the concatenated timestamps of chunks
    ``buf[byte_offsets[c]:byte_offsets[c+1]]`` holding ``ns[c]`` samples.
    Raises ValueError naming the first chunk whose length is wrong."""
    n = np.asarray(ns, dtype=np.int64)
    t0, nz, code, pay, _ = _unpack(
        buf, byte_offsets, n, 2, lambda c: _DOD_WIDTHS[c.astype(np.int64)], "ts_chunk"
    )
    heads, later = _split(n)
    z = np.zeros(len(nz), dtype=_U64)
    z[nz] = pay
    dod = np.zeros(len(later), dtype=np.int64)
    dod[later] = _unzigzag(z)
    live = n[n > 0]
    # restart both running sums at each chunk head (int64 wraps like the encoder)
    delta = np.cumsum(dod)
    delta -= np.repeat(delta[heads], live)
    run = np.cumsum(delta)
    return run + np.repeat(t0.view(np.int64) - run[heads], live)


def dod_encode(ts_ms: np.ndarray) -> bytes:
    """One ts_chunk: [8B t0 LE] [1-bit nonzero flags x (n-1)] [2-bit bucket
    codes x nnz] [payloads], each section padded to a byte."""
    ts = np.ascontiguousarray(ts_ms, dtype=np.int64)
    return dod_encode_many(ts, [0, len(ts)])[0]


def dod_decode(buf: bytes, n: int) -> np.ndarray:
    return dod_decode_many(buf, [0, len(buf)], [n])


# ---------------------------------------------------------------------------
# Gorilla XOR floats
# ---------------------------------------------------------------------------


def _xor_width(hdr: np.ndarray) -> np.ndarray:
    """Meaningful-bit count from an 11-bit header (6-bit field, 0 -> 64)."""
    return ((hdr.astype(np.int64) - 1) & 63) + 1


def xor_encode_many(vals: np.ndarray, offsets) -> tuple[bytes, np.ndarray]:
    """Gorilla-XOR encode every chunk ``vals[offsets[c]:offsets[c+1]]`` ->
    (concatenated val_chunk bytes, per-chunk byte offsets)."""
    v = np.ascontiguousarray(vals, dtype=np.float64).view(_U64)
    n = np.diff(np.asarray(offsets, dtype=np.int64))
    heads, later = _split(n)
    x = np.empty_like(v)
    x[1:] = v[1:] ^ v[:-1]
    x = x[later]
    nz = x != 0
    xn = x[nz]
    lead = np.minimum(_clz64(xn), 31)  # 5-bit field
    trail = _ctz64(xn)
    mean = 64 - lead - trail
    hdr = (lead << 6) | (mean & 63)
    return _pack(n, v[heads], nz, hdr, 11, xn >> trail.astype(_U64), mean)


def xor_decode_many(buf, byte_offsets, ns) -> np.ndarray:
    """Inverse of xor_encode_many (float64 bits exact, NaN payloads too).
    Raises ValueError naming the first malformed chunk."""
    n = np.asarray(ns, dtype=np.int64)
    v0, nz, hdr, pay, c_nz = _unpack(buf, byte_offsets, n, 11, _xor_width, "val_chunk")
    trail = 64 - (hdr >> _U64(6)).astype(np.int64) - _xor_width(hdr)
    bad = np.flatnonzero(trail < 0)
    if len(bad):
        raise ValueError(
            f"val_chunk {c_nz[bad[0]]} of the batch has header "
            f"{int(hdr[bad[0]]):#05x}: leading zeros + length exceed 64 bits"
        )
    heads, later = _split(n)
    x = np.zeros(len(nz), dtype=_U64)
    x[nz] = pay << trail.astype(_U64)
    bits = np.zeros(len(later), dtype=_U64)
    bits[later] = x
    bits[heads] = v0
    # bits(v_i) = v0 ^ x_1 ^ ... ^ x_i: cancel the prefix before each head
    acc = np.bitwise_xor.accumulate(bits)
    return (acc ^ np.repeat(acc[heads] ^ v0, n[n > 0])).view(np.float64)


def xor_encode(vals: np.ndarray) -> bytes:
    """One val_chunk: [8B v0 LE] [1-bit diff flags x (n-1)] [11-bit headers
    x nnz] [meaningful-bit payloads], each section padded to a byte."""
    v = np.ascontiguousarray(vals, dtype=np.float64)
    return xor_encode_many(v, [0, len(v)])[0]


def xor_decode(buf: bytes, n: int) -> np.ndarray:
    return xor_decode_many(buf, [0, len(buf)], [n])


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
