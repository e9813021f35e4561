"""GFS-archive-style binary source (S1/D1/D2/D4/D5 input-path parity).

The reference streams `.gfs` archives: readUTF'd names
(internal/gfs/statarchive.go:269-294), delta-encoded timestamps
(statarchive.go:296-316) and compact-encoded values per sparse sample
record. Our engine's input is a table (per BASELINE.json input_hint), so
this module exists to prove input-FORMAT parity, not as the primary
scan: it packs per-series sample streams into the reference's wire
encodings and decodes them back inside vectorized Arrow-batched UDFs —
the Spark analog of the reference's parser loop, with the JVM<->Python
Arrow boundary standing in for its Java-process boundary
(java_extractor.go:56-57).

Record layout (one binary record per series — a carry buffer merges
groups that span Arrow batches):

  [u16 BE name_len][modified-UTF8 series name]      <- Java writeUTF form
  [compact n][compact ts deltas][compact values]    <- Geode compact ints

Timestamp deltas use the reference's wire form: first sample's ts is a
compact int (absolute), then deltas. The series name rides INSIDE the
record, so decode genuinely exercises the modified-UTF8 path (D5) —
non-ASCII, embedded NUL, and supplementary (surrogate-pair) characters
roundtrip through the wire bytes.

Both directions are batch-vectorized: ONE compact_encode/decode call per
Arrow batch over an interleaved value stream, with record boundaries
recovered from per-record sample counts; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codecs
from ..chunks import carry_groups


def _encode_batch(
    names: list[str], t: np.ndarray, v: np.ndarray, starts: np.ndarray,
    ends: np.ndarray,
) -> list[bytes]:
    """Vectorized: one record per (names[i], t[starts_i:ends_i], v[...])."""
    counts = (ends - starts).astype(np.int64)
    nrec = len(counts)
    # interleaved value stream: [n, deltas..., values...] per record
    vper = 1 + 2 * counts
    voff = np.concatenate([[0], np.cumsum(vper)])
    stream = np.empty(int(voff[-1]), dtype=np.int64)
    stream[voff[:-1]] = counts
    deltas = np.empty(len(t), dtype=np.int64)
    deltas[1:] = t[1:] - t[:-1]
    deltas[starts] = t[starts]  # first sample carries the absolute ts
    row = np.arange(len(t), dtype=np.int64)
    within = row - np.repeat(starts, counts)
    didx = np.repeat(voff[:-1] + 1, counts) + within
    stream[didx] = deltas
    stream[didx + np.repeat(counts, counts)] = v
    payload = codecs.compact_encode(stream)
    psizes = codecs.compact_sizes(stream)
    pends = np.cumsum(psizes)
    pay_off = np.concatenate([[0], pends[voff[1:] - 1]])
    nbuf, nlens = codecs.mutf8_encode_batch(names)
    if (nlens > 0xFFFF).any():
        raise ValueError("series name exceeds 65535 modified-UTF8 bytes")
    noff = np.concatenate([[0], np.cumsum(nlens)])
    pay = np.frombuffer(payload, dtype=np.uint8)
    return [
        (
            int(nlens[i]).to_bytes(2, "big")
            + nbuf[noff[i] : noff[i + 1]].tobytes()
            + pay[pay_off[i] : pay_off[i + 1]].tobytes()
        )
        for i in range(nrec)
    ]


def _decode_batch(records: list[bytes]) -> tuple:
    """-> (names per record, counts, ts_ms concat, values concat)."""
    rlens = np.fromiter((len(r) for r in records), dtype=np.int64,
                        count=len(records))
    buf = np.frombuffer(b"".join(records), dtype=np.uint8)
    roff = np.concatenate([[0], np.cumsum(rlens)])[:-1]
    nlens = (buf[roff].astype(np.int64) << 8) | buf[roff + 1].astype(np.int64)
    # gather the name bytes into one contiguous buffer (lane-free gather:
    # names are short, use repeat/arange once over total name bytes)
    tot = int(nlens.sum())
    nidx = (
        np.repeat(roff + 2, nlens)
        + np.arange(tot, dtype=np.int64)
        - np.repeat(np.cumsum(nlens) - nlens, nlens)
    )
    names = codecs.mutf8_decode_batch(buf[nidx], nlens)
    # payload region per record -> one contiguous compact stream
    pstart = roff + 2 + nlens
    pend = roff + rlens
    plens = pend - pstart
    ptot = int(plens.sum())
    pidx = (
        np.repeat(pstart, plens)
        + np.arange(ptot, dtype=np.int64)
        - np.repeat(np.cumsum(plens) - plens, plens)
    )
    stream = codecs.compact_decode(buf[pidx].tobytes())
    # record boundaries in the value stream from the embedded counts
    counts = np.empty(len(records), dtype=np.int64)
    off = 0
    offs = np.empty(len(records), dtype=np.int64)
    for i in range(len(records)):  # O(#records), not O(#samples)
        offs[i] = off
        counts[i] = stream[off]
        off += 1 + 2 * counts[i]
    row = np.arange(int(counts.sum()), dtype=np.int64)
    base = np.cumsum(counts) - counts
    within = row - np.repeat(base, counts)
    didx = np.repeat(offs + 1, counts) + within
    deltas = stream[didx]
    vals = stream[didx + np.repeat(counts, counts)]
    # segmented cumsum: per-record running sum of deltas
    csum = np.cumsum(deltas)
    first = csum[base] - deltas[base]
    ts = csum - np.repeat(first, counts)
    return names, counts, ts, vals


def encode_archive(
    df: DataFrame, series: str = "series_key", ts_ms: str = "ts_ms",
    value_long: str = "value_long",
) -> DataFrame:
    """(series, ts_ms, value_long) -> (series, n, record binary).

    One record per series per partition: groups are hash-repartitioned on
    the series key and the chunk kernels' carry buffer
    (chunks.carry_groups) merges groups that span Arrow batches, so the
    'one binary record per series' contract holds regardless of Arrow
    batch size."""
    out_schema = f"{series} string, n bigint, record binary"

    def enc(batches):
        for pdf, starts in carry_groups(batches, [series]):
            ends = np.append(starts[1:], len(pdf))
            t = pdf[ts_ms].to_numpy(np.int64)
            v = pdf[value_long].to_numpy(np.int64)
            names = pdf[series].to_numpy()[starts].tolist()
            yield pd.DataFrame(
                {
                    series: names,
                    "n": ends - starts,
                    "record": _encode_batch(names, t, v, starts, ends),
                }
            )

    return (
        df.repartition(series)
        .sortWithinPartitions(series, ts_ms)
        .mapInPandas(enc, out_schema)
    )


def decode_archive(
    archive: DataFrame, series: str = "series_key",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(series?, n, record, extra...) -> (series, [extras...], ts_ms,
    value_long).

    The series name is read from the record's modified-UTF8 header (the
    separate column, if present, is ignored) — the inverse of the
    reference's readUTF + delta/compact parse, batch-vectorized.
    `passthrough` columns (e.g. path-derived node labels) are repeated
    onto every decoded sample of their record."""
    extra = list(passthrough or [])
    by_name = {f.name: f.dataType.simpleString() for f in archive.schema.fields}
    extra_schema = "".join(f", {c} {by_name[c]}" for c in extra)
    out_schema = (
        f"{series} string{extra_schema}, ts_ms bigint, value_long bigint"
    )

    def dec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            records = [bytes(r) for r in pdf["record"]]
            names, counts, ts, vals = _decode_batch(records)
            d = {series: np.repeat(np.array(names, dtype=object), counts)}
            for c in extra:
                d[c] = np.repeat(pdf[c].to_numpy(), counts)
            d["ts_ms"] = ts
            d["value_long"] = vals
            yield pd.DataFrame(d)

    return archive.mapInPandas(dec, out_schema)


# ---------------------------------------------------------------------------
# S3/S4: heuristic resync scan (corruption tolerance)
# ---------------------------------------------------------------------------
# The reference recovers from mid-stream corruption by scanning forward a
# bounded number of bytes for the next byte that parses as a plausible
# token sequence, skipping (and warning about) everything in between
# (resyncToNextToken, /root/reference/internal/gfs/statarchive.go:1178-1217,
# <=50-byte lookahead; the heuristic Geode parser additionally skips whole
# corrupted resources, geode_parser.go:213-214). The analog here scans a
# concatenated record SECTION positionally and resyncs on the next offset
# where a complete record validates. Corruption is the exception path, so
# this reader is deliberately scalar (the reference's is a byte loop);
# the happy path stays on decode_archive's vectorized kernels.

_MAX_RESYNC_SKIP = 50  # statarchive.go:1192 "within 50 bytes"


def _read_compact_scalar(buf: bytes, pos: int, count: int):
    """Parse `count` Geode compact ints at pos -> (values, new_pos).
    Raises ValueError on truncation. Every byte value is SOME valid token
    (1-byte values cover -121..127, multi tokens -128..-122), so the only
    hard wire errors are out-of-bounds payloads — plausibility checks on
    the DECODED values are the caller's job, as in the reference."""
    out = []
    n = len(buf)
    for _ in range(count):
        if pos >= n:
            raise ValueError("truncated compact stream")
        s = buf[pos] - 256 if buf[pos] >= 128 else buf[pos]
        if s >= -121:  # codecs._MIN_1BYTE
            out.append(s)
            pos += 1
        else:
            k = s + 130  # codecs._TOKEN_BASE; k in 2..8 by construction
            if pos + 1 + k > n:
                raise ValueError("truncated multi-byte payload")
            out.append(int.from_bytes(buf[pos + 1 : pos + 1 + k], "big", signed=True))
            pos += 1 + k
    return out, pos


def _try_parse_record(buf: bytes, pos: int, max_count: int = 1_000_000):
    """Parse one wire record at pos -> (name, ts_list, value_list, end).
    Validation: header length in bounds, the name must ROUNDTRIP through
    the modified-UTF8 codec (strict validity — the decoder itself is
    lenient), sample count in (0, max_count], payload in bounds."""
    n = len(buf)
    if pos + 2 > n:
        raise ValueError("no room for name header")
    nlen = (buf[pos] << 8) | buf[pos + 1]
    if nlen == 0 or pos + 2 + nlen > n:
        raise ValueError("bad name length")
    name_bytes = buf[pos + 2 : pos + 2 + nlen]
    name = codecs.mutf8_decode_batch(
        np.frombuffer(name_bytes, dtype=np.uint8), np.array([nlen])
    )[0]
    rebuf, relens = codecs.mutf8_encode_batch([name])
    if int(relens[0]) != nlen or rebuf.tobytes() != name_bytes:
        raise ValueError("name is not valid modified-UTF8")
    p = pos + 2 + nlen
    (cnt,), p = _read_compact_scalar(buf, p, 1)
    if not (0 < cnt <= max_count):
        raise ValueError(f"implausible sample count {cnt}")
    deltas, p = _read_compact_scalar(buf, p, cnt)
    vals, p = _read_compact_scalar(buf, p, cnt)
    ts, acc = [], 0
    for d in deltas:
        acc += d
        ts.append(acc)
    return name, ts, vals, p


def decode_section_resync(
    payload: bytes, max_skip: int = _MAX_RESYNC_SKIP, max_count: int = 1_000_000
):
    """Positionally scan a concatenated record section; on a parse failure
    advance byte-by-byte (up to max_skip) until a complete record
    validates again, counting skipped bytes. Returns
    ([(name, ts_list, value_list)], skipped_bytes). Like the reference's
    resync this is a HEURISTIC: bytes that happen to parse as a valid
    record are accepted."""
    out: list[tuple[str, list[int], list[int]]] = []
    skipped = 0
    pos, n = 0, len(payload)
    while pos < n:
        try:
            name, ts, vals, pos = _try_parse_record(payload, pos, max_count)
            out.append((name, ts, vals))
        except ValueError:
            found = None
            for cand in range(pos + 1, min(pos + 1 + max_skip, n)):
                try:
                    _try_parse_record(payload, cand, max_count)
                    found = cand
                    break
                except ValueError:
                    continue
            if found is None:  # nothing parseable within the window
                skipped += n - pos
                break
            skipped += found - pos
            pos = found
    return out, skipped


def decode_archive_resync(
    archive: DataFrame, series: str = "series_key",
    max_skip: int = _MAX_RESYNC_SKIP,
) -> DataFrame:
    """Corruption-tolerant decode_archive variant (S3/S4): each `record`
    blob is treated as a section; corrupted spans are skipped after a
    bounded forward scan. Output rows carry the section's total
    skipped_bytes (0 on clean input) so callers can reconcile and alert —
    the engine analog of the reference's resync warnings."""
    out_schema = (
        f"{series} string, ts_ms bigint, value_long bigint, skipped_bytes bigint"
    )

    def dec(batches):
        for pdf in batches:
            names: list[str] = []
            ts_all: list[int] = []
            vals_all: list[int] = []
            skips: list[int] = []
            for rec in pdf["record"]:
                recs, skipped = decode_section_resync(bytes(rec), max_skip)
                for name, ts, vals in recs:
                    names.extend([name] * len(ts))
                    ts_all.extend(ts)
                    vals_all.extend(vals)
                    skips.extend([skipped] * len(ts))
            yield pd.DataFrame(
                {
                    series: names,
                    "ts_ms": ts_all,
                    "value_long": vals_all,
                    "skipped_bytes": skips,
                }
            )

    return archive.mapInPandas(dec, out_schema)
