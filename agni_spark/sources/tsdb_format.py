"""Pure-Python codecs for the TSDB block on-disk format (ingest path,
SURVEY §7 Phase 2).

These decode/encode the PUBLIC Prometheus TSDB formats so the engine
can ingest real blocks (reference read side: agni chunks.go:84-159;
format: vendor tsdb chunks/xor.go:134-389, chunks.go:196-258):

- XOR ("Gorilla") chunk: 2-byte BE sample count, then a bit stream of
  (timestamp delta-of-delta, value-XOR) codes — byte-faithful to
  chunks/xor.go (dod buckets 14/17/20/64 bits with codes 10/110/1110/
  1111; value leading/trailing-zero windows, 5+6 bit header).
- Chunk segment file: 8-byte header (magic 0x85BD40DD BE + version 1 +
  3 padding), then per chunk: uvarint length, 1-byte encoding (1=XOR),
  data, CRC32 (Castagnoli) — vendor tsdb chunks.go:196-258. Chunk ref
  = segment_index << 32 | byte_offset (agni chunks.go:113-116).
- Block index: the REAL index v1 binary layout (vendor tsdb
  index.go:254-515 write side, 615-869 read side): header, symbol
  table, series section (uvarint symbol refs + delta-coded chunk
  metas), per-label value indices, postings lists (series FILE
  offsets, BE32), two offset tables, and the 52-byte trailing TOC —
  all sections CRC-32C framed. Series are stored in label-set order
  and enumerated through the all-postings ("", "") entry, exactly as
  Prometheus compaction writes them (compact.go:460-564). Spark-side
  querying never reads the index (Catalyst + parquet stats replace it,
  SURVEY §4.1) — it exists so the ingest tier reads/writes blocks that
  real Prometheus tooling accepts.

Everything here runs inside Arrow-batched Python workers
(converter.py); nothing touches the driver loop.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass

CHUNKS_MAGIC = 0x85BD40DD  # vendor tsdb chunks.go MagicChunks
ENC_XOR = 1  # chunks/chunk.go:36-49


# ---------------------------------------------------------------------------
# bit stream
# ---------------------------------------------------------------------------
class BitWriter:
    """MSB-first bit appender (vendor tsdb chunks/bstream.go). Whole
    bytes land in `buf` as they fill; the last < 8 bits wait in `acc`."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0  # pending bits, MSB first
        self.nacc = 0  # how many; fewer than 8 between calls

    def write_bits(self, value: int, n: int) -> None:
        acc = (self.acc << n) | (value & ((1 << n) - 1))
        nacc = self.nacc + n
        if nacc >= 8:
            rem = nacc & 7
            self.buf += (acc >> rem).to_bytes(nacc >> 3, "big")
            acc &= (1 << rem) - 1
            nacc = rem
        self.acc, self.nacc = acc, nacc

    def write_bit(self, bit: int) -> None:
        self.write_bits(bit, 1)

    def write_byte(self, b: int) -> None:
        self.write_bits(b, 8)

    def bytes(self) -> bytes:
        if self.nacc:  # the partial last byte, zero-padded on the right
            return bytes(self.buf) + bytes((self.acc << (8 - self.nacc),))
        return bytes(self.buf)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        byte = self.data[self.pos >> 3]
        bit = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_byte(self) -> int:
        return self.read_bits(8)


def _write_uvarint(w: BitWriter, v: int) -> None:
    while v >= 0x80:
        w.write_byte((v & 0x7F) | 0x80)
        v >>= 7
    w.write_byte(v)


def _read_uvarint(r: BitReader) -> int:
    shift = 0
    out = 0
    while True:
        b = r.read_byte()
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out
        shift += 7


def _write_varint(w: BitWriter, v: int) -> None:
    # zigzag (Go binary.PutVarint)
    _write_uvarint(w, (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def _read_varint(r: BitReader) -> int:
    u = _read_uvarint(r)
    return (u >> 1) ^ -(u & 1)


# ---------------------------------------------------------------------------
# XOR chunk (chunks/xor.go)
# ---------------------------------------------------------------------------
_F = struct.Struct(">d")


def _f2b(v: float) -> int:
    return struct.unpack(">Q", _F.pack(v))[0]


def _b2f(b: int) -> float:
    return struct.unpack(">d", struct.pack(">Q", b))[0]


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 64


def encode_xor_chunk(samples: list[tuple[int, float]]) -> bytes:
    """Encode (t_ms, value) pairs — byte-faithful to xor.go:134-224."""
    if len(samples) > 0xFFFF:
        raise ValueError("chunk supports at most 65535 samples")
    w = BitWriter()
    w.write_bits(len(samples), 16)  # BE u16 sample count (xor.go:75-77)
    if not samples:
        return w.bytes()

    t0, v0 = samples[0]
    _write_varint(w, t0)
    w.write_bits(_f2b(v0), 64)
    prev_t, prev_v = t0, _f2b(v0)
    prev_delta = 0
    leading, trailing = 0xFF, 0  # invalid marker like xor.go

    for i, (t, v) in enumerate(samples[1:], start=1):
        if i == 1:
            delta = t - prev_t
            if delta < 0:
                raise ValueError("timestamps must be non-decreasing")
            _write_uvarint(w, delta)
            prev_delta = delta
        else:
            delta = t - prev_t
            dod = delta - prev_delta
            prev_delta = delta
            if dod == 0:
                w.write_bit(0)
            elif -8191 <= dod <= 8192:
                w.write_bits(0b10, 2)
                w.write_bits(dod, 14)
            elif -65535 <= dod <= 65536:
                w.write_bits(0b110, 3)
                w.write_bits(dod, 17)
            elif -524287 <= dod <= 524288:
                w.write_bits(0b1110, 4)
                w.write_bits(dod, 20)
            else:
                w.write_bits(0b1111, 4)
                w.write_bits(dod & 0xFFFFFFFFFFFFFFFF, 64)
        prev_t = t

        vb = _f2b(v)
        xor = prev_v ^ vb
        if xor == 0:
            w.write_bit(0)
        else:
            w.write_bit(1)
            lz = min(_clz64(xor), 31)  # leading capped at 31 (5 bits)
            tz = _ctz64(xor)
            if leading != 0xFF and lz >= leading and tz >= trailing:
                w.write_bit(0)
                w.write_bits(xor >> trailing, 64 - leading - trailing)
            else:
                leading, trailing = lz, tz
                w.write_bit(1)
                w.write_bits(leading, 5)
                sigbits = 64 - leading - trailing
                w.write_bits(sigbits & 0x3F, 6)  # 64 encodes as 0
                w.write_bits(xor >> trailing, sigbits)
        prev_v = vb
    return w.bytes()


def decode_xor_chunk(data: bytes) -> list[tuple[int, float]]:
    """Decode — mirror of xor.go:249-389."""
    r = BitReader(data)
    n = r.read_bits(16)
    out: list[tuple[int, float]] = []
    if n == 0:
        return out

    t = _read_varint(r)
    vbits = r.read_bits(64)
    out.append((t, _b2f(vbits)))
    delta = 0
    leading, trailing = 0, 0

    for i in range(1, n):
        if i == 1:
            delta = _read_uvarint(r)
        else:
            if r.read_bit() == 0:
                dod = 0
            elif r.read_bit() == 0:
                dod = _sext(r.read_bits(14), 14)
            elif r.read_bit() == 0:
                dod = _sext(r.read_bits(17), 17)
            elif r.read_bit() == 0:
                dod = _sext(r.read_bits(20), 20)
            else:
                raw = r.read_bits(64)
                dod = raw - (1 << 64) if raw >= (1 << 63) else raw
            delta += dod
        t += delta

        if r.read_bit() == 0:
            pass  # same value
        else:
            if r.read_bit() == 0:
                sigbits = 64 - leading - trailing
            else:
                leading = r.read_bits(5)
                mbits = r.read_bits(6)
                sigbits = 64 if mbits == 0 else mbits
                trailing = 64 - leading - sigbits
            xor = r.read_bits(sigbits) << trailing
            vbits ^= xor
        out.append((t, _b2f(vbits)))
    return out


def _sext(v: int, nbits: int) -> int:
    """tsdb sign convention (xor.go readValue): asymmetric range —
    values strictly greater than 2^(n-1) wrap negative."""
    return v - (1 << nbits) if v > (1 << (nbits - 1)) else v


# ---------------------------------------------------------------------------
# chunk segment files (vendor tsdb chunks.go:196-258)
# ---------------------------------------------------------------------------
def _make_crc32c_table() -> list[int]:
    # Reflected Castagnoli polynomial 0x1EDC6F41 -> 0x82F63B78, the
    # table Go's crc32.MakeTable(crc32.Castagnoli) builds (vendor tsdb
    # chunks.go:196-216 / index.go use crc32.Checksum over it).
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _make_crc32c_table()


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) — byte parity with real Prometheus blocks;
    golden vector crc32c(b"123456789") == 0xE3069283 is pinned in
    tests. Runs only inside Arrow-batched workers on KB-sized chunks."""
    crc = 0xFFFFFFFF
    tbl = _CRC32C_TABLE
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def write_chunk_segment(path: str, chunks: list[bytes], encoding: int = ENC_XOR) -> list[int]:
    """Write one numbered segment file; returns byte offsets of each
    chunk (for refs). Layout: magic+version header, then per chunk
    uvarint(len) | encoding byte | data | crc32."""
    offsets = []
    with open(path, "wb") as f:
        f.write(struct.pack(">I", CHUNKS_MAGIC))
        f.write(bytes([1, 0, 0, 0]))  # version 1 + padding
        pos = 8
        for data in chunks:
            offsets.append(pos)
            head = _uvarint_bytes(len(data)) + bytes([encoding])
            crc = struct.pack(">I", _crc32c(bytes([encoding]) + data))
            f.write(head + data + crc)
            pos += len(head) + len(data) + 4
    return offsets


def read_chunk_at(path: str, offset: int, verify: bool = True) -> bytes:
    """Read one chunk given its in-segment offset (agni chunks.go:
    112-159 does the same over S3 with a doubling buffer)."""
    with open(path, "rb") as f:
        f.seek(offset)
        buf = f.read(16)
        ln, consumed = _read_uvarint_bytes(buf)
        f.seek(offset + consumed)
        enc_data_crc = f.read(1 + ln + 4)
    enc, data, crc = enc_data_crc[0], enc_data_crc[1 : 1 + ln], enc_data_crc[1 + ln :]
    if enc != ENC_XOR:
        raise ValueError(f"unsupported chunk encoding {enc}")
    if verify and struct.unpack(">I", crc)[0] != _crc32c(enc_data_crc[: 1 + ln]):
        raise ValueError("chunk CRC mismatch")
    return data


def iter_segment_chunks(path: str):
    """Stream every (offset, data) in a segment file (batched ingest —
    the Populate equivalent, agni chunks.go:161-251, reads whole
    ranges; here we stream the file once)."""
    with open(path, "rb") as f:
        blob = f.read()
    magic, ver = struct.unpack(">I", blob[:4])[0], blob[4]
    if magic != CHUNKS_MAGIC:
        raise ValueError("bad chunks magic")
    if ver != 1:
        raise ValueError(f"unsupported chunks version {ver}")
    pos = 8
    while pos < len(blob):
        ln, consumed = _read_uvarint_bytes(blob[pos : pos + 10])
        start = pos + consumed
        data = blob[start + 1 : start + 1 + ln]
        yield pos, data
        pos = start + 1 + ln + 4


def _uvarint_bytes(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _read_uvarint_bytes(buf: bytes) -> tuple[int, int]:
    shift = out = i = 0
    while True:
        b = buf[i]
        out |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return out, i
        shift += 7


# ---------------------------------------------------------------------------
# block index v1 (vendor tsdb index.go) — real byte layout
# ---------------------------------------------------------------------------
INDEX_MAGIC = 0xBAAAD700  # index.go:35 MagicIndex
INDEX_V1 = 1
_TOC_LEN = 6 * 8 + 4  # index.go:424 indexTOCLen


@dataclass
class ChunkMeta:
    """(ref, mint, maxt) — vendor tsdb chunks.go:34-43; ref =
    segment_index << 32 | offset (agni chunks.go:113-116)."""

    ref: int
    mint: int
    maxt: int


_U64 = 0xFFFFFFFFFFFFFFFF


def _varint_bytes(v: int) -> bytes:
    """Go binary.PutVarint (zigzag)."""
    return _uvarint_bytes(((v << 1) ^ (v >> 63)) & _U64 if v >= 0 else ((-v) << 1) - 1)


def _read_varint_bytes(buf: bytes) -> tuple[int, int]:
    u, n = _read_uvarint_bytes(buf)
    return (u >> 1) ^ -(u & 1), n


def _labels_key(labels: dict[str, str]) -> tuple:
    """labels.Compare order: pairwise (name, value), names sorted."""
    return tuple(sorted(labels.items()))


def write_index(
    path: str,
    series: list[tuple[dict[str, str], list[ChunkMeta]]],
) -> None:
    """Write a real Prometheus index v1 file (byte layout per vendor
    tsdb index.go:254-515):

      magic BE32 | version 0x01
      symbols:      BE32 len | BE32 count | (uvarint len + bytes)* | CRC32C
      series (label-set order, offsets are the postings refs):
                    uvarint len | uvarint #lbls (uvarint sym-off pairs)*
                    | uvarint #chunks | delta-coded chunk metas | CRC32C
      label index (per name, 4-aligned):
                    BE32 len | BE32 #names | BE32 #values
                    | BE32 sym-off* | CRC32C
      postings (per pair + all-postings ("",""), 4-aligned):
                    BE32 len | BE32 #refs | BE32 series-file-offset* | CRC32C
      label offset table | postings offset table:
                    BE32 len | BE32 #entries
                    | (uvarint #keys, uvarint-str keys, uvarint offset)* | CRC32C
      TOC (last 52 bytes): 6 x BE64 section offsets | CRC32C
    """
    entries = sorted(series, key=lambda e: _labels_key(e[0]))
    symbols = sorted(
        {s for labels, _ in entries for kv in labels.items() for s in kv}
    )
    buf = bytearray()
    buf += struct.pack(">I", INDEX_MAGIC)
    buf.append(INDEX_V1)

    def section(b2: bytes) -> None:
        buf.extend(struct.pack(">i", len(b2)))
        buf.extend(b2)
        buf.extend(struct.pack(">I", _crc32c(b2)))

    def pad4() -> None:
        buf.extend(bytes((4 - len(buf) % 4) % 4))

    # -- symbols (index.go:326-357); offsets point at each uvarint len
    toc_symbols = len(buf)
    b2 = bytearray(struct.pack(">i", len(symbols)))
    sym_off: dict[str, int] = {}
    base = toc_symbols + 4
    for s in symbols:
        sym_off[s] = base + len(b2)
        sb = s.encode()
        b2 += _uvarint_bytes(len(sb)) + sb
    section(bytes(b2))

    # -- series (index.go:262-324); file offset IS the series ref
    toc_series = len(buf)
    series_offsets: list[int] = []
    for labels, chunks in entries:
        series_offsets.append(len(buf))
        b2 = bytearray(_uvarint_bytes(len(labels)))
        for n, v in sorted(labels.items()):
            b2 += _uvarint_bytes(sym_off[n]) + _uvarint_bytes(sym_off[v])
        b2 += _uvarint_bytes(len(chunks))
        if chunks:
            c0 = chunks[0]
            b2 += _varint_bytes(c0.mint)
            b2 += _uvarint_bytes((c0.maxt - c0.mint) & _U64)
            b2 += _uvarint_bytes(c0.ref)
            t0, ref0 = c0.maxt, c0.ref
            for c in chunks[1:]:
                b2 += _uvarint_bytes((c.mint - t0) & _U64)
                b2 += _uvarint_bytes((c.maxt - c.mint) & _U64)
                b2 += _varint_bytes(c.ref - ref0)
                t0, ref0 = c.maxt, c.ref
        buf.extend(_uvarint_bytes(len(b2)))
        buf.extend(b2)
        buf.extend(struct.pack(">I", _crc32c(bytes(b2))))

    # -- label value indices (index.go:359-402), one per name
    by_name: dict[str, set] = {}
    by_pair: dict[tuple[str, str], list[int]] = {}
    for i, (labels, _) in enumerate(entries):
        for n, v in labels.items():
            by_name.setdefault(n, set()).add(v)
            by_pair.setdefault((n, v), []).append(series_offsets[i])
    toc_label_indices = len(buf)
    label_entries: list[tuple[list[str], int]] = []
    for name in sorted(by_name):
        pad4()
        label_entries.append(([name], len(buf)))
        vals = sorted(by_name[name])
        b2 = struct.pack(">i", 1) + struct.pack(">i", len(vals))
        b2 += b"".join(struct.pack(">I", sym_off[v]) for v in vals)
        section(b2)

    # -- postings (index.go:441-491): every pair + all-postings ("","")
    # (postings.go:65,109 — memPostings adds each series to the empty
    # key, which is how readers enumerate all series)
    by_pair[("", "")] = list(series_offsets)
    toc_postings = len(buf)
    post_entries: list[tuple[list[str], int]] = []
    for (n, v) in sorted(by_pair):
        pad4()
        post_entries.append(([n, v], len(buf)))
        refs = sorted(by_pair[(n, v)])
        b2 = struct.pack(">i", len(refs))
        b2 += b"".join(struct.pack(">I", r) for r in refs)
        section(b2)

    # -- offset tables (index.go:405-422) + TOC (index.go:426-439)
    def offset_table(table_entries: list[tuple[list[str], int]]) -> None:
        b2 = bytearray(struct.pack(">i", len(table_entries)))
        for keys, off in table_entries:
            b2 += _uvarint_bytes(len(keys))
            for k in keys:
                kb = k.encode()
                b2 += _uvarint_bytes(len(kb)) + kb
            b2 += _uvarint_bytes(off)
        section(bytes(b2))

    toc_label_table = len(buf)
    offset_table(label_entries)
    toc_post_table = len(buf)
    offset_table(post_entries)
    tocb = struct.pack(
        ">QQQQQQ",
        toc_symbols, toc_series, toc_label_indices,
        toc_label_table, toc_postings, toc_post_table,
    )
    buf.extend(tocb)
    buf.extend(struct.pack(">I", _crc32c(tocb)))
    with open(path, "wb") as f:
        f.write(bytes(buf))


def _read_section(b: bytes, off: int, verify: bool = True) -> bytes:
    """BE32-length-framed section content at `off`, CRC-verified."""
    (ln,) = struct.unpack(">i", b[off : off + 4])
    content = b[off + 4 : off + 4 + ln]
    if verify:
        (crc,) = struct.unpack(">I", b[off + 4 + ln : off + 8 + ln])
        if crc != _crc32c(content):
            raise ValueError(f"index section CRC mismatch at {off}")
    return content


def _read_offset_table(b: bytes, off: int) -> dict[tuple, int]:
    content = _read_section(b, off)
    (cnt,) = struct.unpack(">i", content[:4])
    pos, out = 4, {}
    for _ in range(cnt):
        nkeys, n = _read_uvarint_bytes(content[pos:])
        pos += n
        keys = []
        for _ in range(nkeys):
            ln, n = _read_uvarint_bytes(content[pos:])
            pos += n
            keys.append(content[pos : pos + ln].decode())
            pos += ln
        o, n = _read_uvarint_bytes(content[pos:])
        pos += n
        out[tuple(keys)] = o
    return out


def _read_symbols(b: bytes, off: int) -> dict[int, str]:
    """offset -> string map (index.go:640-660: offsets address each
    symbol's uvarint length prefix)."""
    content = _read_section(b, off)
    (cnt,) = struct.unpack(">i", content[:4])
    pos, out = 4, {}
    for _ in range(cnt):
        sym_pos = off + 4 + pos
        ln, n = _read_uvarint_bytes(content[pos:])
        pos += n
        out[sym_pos] = content[pos : pos + ln].decode()
        pos += ln
    return out


def _read_series_at(
    b: bytes, ref: int, symbols: dict[int, str]
) -> tuple[dict[str, str], list[ChunkMeta]]:
    """Decode one series entry at its file offset (index.go:779-847)."""
    ln, n = _read_uvarint_bytes(b[ref:])
    content = b[ref + n : ref + n + ln]
    (crc,) = struct.unpack(">I", b[ref + n + ln : ref + n + ln + 4])
    if crc != _crc32c(content):
        raise ValueError(f"series entry CRC mismatch at {ref}")
    pos = 0
    nlbl, n = _read_uvarint_bytes(content)
    pos += n
    labels = {}
    for _ in range(nlbl):
        no, n = _read_uvarint_bytes(content[pos:])
        pos += n
        vo, n = _read_uvarint_bytes(content[pos:])
        pos += n
        labels[symbols[no]] = symbols[vo]
    nchk, n = _read_uvarint_bytes(content[pos:])
    pos += n
    chunks: list[ChunkMeta] = []
    if nchk:
        mint, n = _read_varint_bytes(content[pos:])
        pos += n
        d, n = _read_uvarint_bytes(content[pos:])
        pos += n
        maxt = mint + d
        ref0, n = _read_uvarint_bytes(content[pos:])
        pos += n
        chunks.append(ChunkMeta(ref0, mint, maxt))
        t0 = maxt
        for _ in range(nchk - 1):
            d, n = _read_uvarint_bytes(content[pos:])
            pos += n
            mint = t0 + ((d + (1 << 63)) % (1 << 64) - (1 << 63))  # wrap like Go int64
            d, n = _read_uvarint_bytes(content[pos:])
            pos += n
            maxt = mint + d
            dref, n = _read_varint_bytes(content[pos:])
            pos += n
            ref0 += dref
            t0 = maxt
            chunks.append(ChunkMeta(ref0, mint, maxt))
    return labels, chunks


def _read_postings_at(b: bytes, off: int) -> list[int]:
    content = _read_section(b, off)
    (cnt,) = struct.unpack(">i", content[:4])
    return list(struct.unpack(f">{cnt}I", content[4 : 4 + 4 * cnt]))


def read_index(path: str) -> list[tuple[dict[str, str], list[ChunkMeta]]]:
    """Read a Prometheus index v1 file: TOC -> symbols -> postings
    offset table -> all-postings ("","") -> series entries, returned in
    label-set order (the refs' natural order). Every consumed section
    is CRC-32C verified (stricter than the Go reader, which TODOs its
    checksum validation — index.go:625,687,844)."""
    with open(path, "rb") as f:
        b = f.read()
    if struct.unpack(">I", b[:4])[0] != INDEX_MAGIC:
        raise ValueError("bad index magic")
    if b[4] != INDEX_V1:
        raise ValueError(f"unsupported index version {b[4]}")
    toc = struct.unpack(">QQQQQQ", b[-_TOC_LEN:-4])
    (crc,) = struct.unpack(">I", b[-4:])
    if crc != _crc32c(b[-_TOC_LEN:-4]):
        raise ValueError("index TOC CRC mismatch")
    symbols = _read_symbols(b, toc[0])
    ptable = _read_offset_table(b, toc[5])
    all_off = ptable.get(("", ""))
    refs = _read_postings_at(b, all_off) if all_off is not None else []
    return [_read_series_at(b, ref, symbols) for ref in refs]


def read_index_postings(path: str, name: str, value: str) -> list[int]:
    """Postings lookup for one label pair -> series file offsets
    (index.go:849-870). Empty when the pair is unindexed."""
    with open(path, "rb") as f:
        b = f.read()
    toc = struct.unpack(">QQQQQQ", b[-_TOC_LEN:-4])
    ptable = _read_offset_table(b, toc[5])
    off = ptable.get((name, value))
    return _read_postings_at(b, off) if off is not None else []


SAMPLES_PER_CHUNK = 120  # design point, xor.go:75-77
SEGMENT_MAX_BYTES = 512 * 1024 * 1024  # vendor tsdb chunks.go segmentSize


def write_chunk_segments(
    chunks_dir: str,
    chunks: list[bytes],
    seg_max_bytes: int = SEGMENT_MAX_BYTES,
    encoding: int = ENC_XOR,
) -> list[tuple[int, int]]:
    """Write chunks across numbered segment files (000001, 000002, ...),
    cutting a new segment when the next chunk would push the current
    file past `seg_max_bytes` (vendor tsdb chunks.go:113-116 packs
    ref = segment<<32 | offset; agni chunks.go:161-196 groups batched
    reads by segment). Returns one (segment_no, offset) per chunk.

    A real 2h block can exceed one 512 MiB segment; refs into later
    segments must resolve or those chunks are unreachable."""
    refs: list[tuple[int, int]] = []
    seg_no = 0
    f = None
    pos = 0
    try:
        for data in chunks:
            head = _uvarint_bytes(len(data)) + bytes([encoding])
            rec_len = len(head) + len(data) + 4
            if f is None or (pos + rec_len > seg_max_bytes and pos > 8):
                if f is not None:
                    f.close()
                seg_no += 1
                f = open(os.path.join(chunks_dir, f"{seg_no:06d}"), "wb")
                f.write(struct.pack(">I", CHUNKS_MAGIC))
                f.write(bytes([1, 0, 0, 0]))  # version 1 + padding
                pos = 8
            refs.append((seg_no, pos))
            crc = struct.pack(">I", _crc32c(bytes([encoding]) + data))
            f.write(head + data + crc)
            pos += rec_len
    finally:
        if f is not None:
            f.close()
    if not chunks:  # always materialize segment 000001, like the ref
        write_chunk_segment(os.path.join(chunks_dir, "000001"), [])
    return refs


def segment_path(chunks_dir: str, ref: int) -> str:
    """Resolve a packed chunk ref to its segment file path:
    segment_no = ref >> 32 (1-based file name), offset = low 32 bits."""
    return os.path.join(chunks_dir, f"{ref >> 32:06d}")


def write_block_dir(
    block_dir: str,
    series: list[tuple[dict[str, str], list[tuple[int, float]]]],
    ulid: str,
    level: int = 1,
    seg_max_bytes: int = SEGMENT_MAX_BYTES,
) -> None:
    """Materialize one complete TSDB block dir (chunks/000001..N, index,
    meta.json) from (labels, samples) pairs. Marker-file-last ordering
    (shipper.go:311-319): meta.json is written after chunks+index — a
    block without meta is invisible. Self-contained in this module so
    distributed export workers can run it from shipped source."""
    os.makedirs(os.path.join(block_dir, "chunks"), exist_ok=True)
    all_parts: list[list[tuple[int, float]]] = []
    per_series_parts: list[tuple[dict[str, str], list[int]]] = []
    mint, maxt = None, None
    n_samples = 0
    for labels, samples in series:
        samples = sorted(samples)
        idxs = []
        for i in range(0, len(samples), SAMPLES_PER_CHUNK):
            idxs.append(len(all_parts))
            all_parts.append(samples[i : i + SAMPLES_PER_CHUNK])
        per_series_parts.append((labels, idxs))
        n_samples += len(samples)
        if samples:
            mint = samples[0][0] if mint is None else min(mint, samples[0][0])
            maxt = samples[-1][0] if maxt is None else max(maxt, samples[-1][0])

    encoded = [encode_xor_chunk(part) for part in all_parts]
    refs = write_chunk_segments(
        os.path.join(block_dir, "chunks"), encoded, seg_max_bytes
    )
    entries = []
    for labels, idxs in per_series_parts:
        cms = [
            ChunkMeta(
                ref=(refs[i][0] << 32) | refs[i][1],
                mint=all_parts[i][0][0],
                maxt=all_parts[i][-1][0],
            )
            for i in idxs
        ]
        entries.append((labels, cms))
    write_index(os.path.join(block_dir, "index"), entries)
    write_meta(
        os.path.join(block_dir, "meta.json"),
        ulid,
        mint or 0,
        (maxt or 0) + 1,
        {
            "numSamples": n_samples,
            "numSeries": len(series),
            "numChunks": len(encoded),
        },
        level=level,
    )


def read_index_label_values(path: str, name: str) -> list[str]:
    """Sorted label values for one name via the label value index
    (index.go:731-761)."""
    with open(path, "rb") as f:
        b = f.read()
    toc = struct.unpack(">QQQQQQ", b[-_TOC_LEN:-4])
    symbols = _read_symbols(b, toc[0])
    ltable = _read_offset_table(b, toc[3])
    off = ltable.get((name,))
    if off is None:
        return []
    content = _read_section(b, off)
    ncols, nvals = struct.unpack(">ii", content[:8])
    offs = struct.unpack(f">{ncols * nvals}I", content[8 : 8 + 4 * ncols * nvals])
    return [symbols[o] for o in offs]


def write_meta(path: str, ulid: str, mint: int, maxt: int, stats: dict, level: int = 1) -> None:
    """meta.json (vendor tsdb block.go:64-96; version gate ==1 mirrors
    db.go:238-240)."""
    with open(path, "w") as f:
        json.dump(
            {
                "ulid": ulid,
                "minTime": mint,
                "maxTime": maxt,
                "stats": stats,
                "compaction": {"level": level, "sources": [ulid]},
                "version": 1,
            },
            f,
        )


def read_meta(path: str) -> dict:
    with open(path) as f:
        meta = json.load(f)
    if meta.get("version") != 1:
        raise ValueError(f"unexpected meta file version {meta.get('version')}")
    return meta


# ---------------------------------------------------------------------------
# Block tombstones file (vendor tsdb tombstones.go:28-137). Format:
#   BE32 magic 0x130BA30 | byte version(1) |
#   repeat( uvarint64 series_ref, varint64 mint, varint64 maxt ) |
#   BE32 CRC-32C over the stones region (header excluded,
#   tombstones.go:103-122: the hash starts after magic+format).
# Intervals are inclusive both ends (tombstones.go:161-165 inBounds).

TOMBSTONE_MAGIC = 0x130BA30  # tombstones.go:31
TOMBSTONE_FORMAT_V1 = 1  # tombstones.go:34


def write_tombstones(block_dir: str, stones: list[tuple[int, int, int]]) -> None:
    """Write a block `tombstones` file from (series_ref, mint, maxt)
    triples (tombstones.go:41-84; tmp-then-rename like renameFile)."""
    body = bytearray()
    for ref, mint, maxt in stones:
        body += _uvarint_bytes(ref)
        body += _varint_bytes(mint)
        body += _varint_bytes(maxt)
    buf = struct.pack(">I", TOMBSTONE_MAGIC) + bytes([TOMBSTONE_FORMAT_V1])
    buf += bytes(body) + struct.pack(">I", _crc32c(bytes(body)))
    tmp = os.path.join(block_dir, "tombstones.tmp")
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, os.path.join(block_dir, "tombstones"))


def read_tombstones(block_dir: str) -> dict[int, list[tuple[int, int]]]:
    """Parse a block's `tombstones` file -> {series_ref: [(mint, maxt)]}
    (tombstones.go:93-137: magic + format gates, CRC over the stones
    region). A missing file means no deletions — same as the reference's
    empty tombstoneReader; a corrupt one raises."""
    path = os.path.join(block_dir, "tombstones")
    if not os.path.exists(path):
        return {}
    with open(path, "rb") as f:
        b = f.read()
    if len(b) < 9:
        raise ValueError("tombstones file too short")
    if struct.unpack(">I", b[:4])[0] != TOMBSTONE_MAGIC:
        raise ValueError(f"invalid tombstone magic {b[:4].hex()}")
    if b[4] != TOMBSTONE_FORMAT_V1:
        raise ValueError(f"invalid tombstone format {b[4]}")
    body = b[5:-4]
    if struct.unpack(">I", b[-4:])[0] != _crc32c(body):
        raise ValueError("tombstones checksum mismatch")
    out: dict[int, list[tuple[int, int]]] = {}
    pos = 0
    while pos < len(body):
        ref, n = _read_uvarint_bytes(body[pos:])
        pos += n
        mint, n = _read_varint_bytes(body[pos:])
        pos += n
        maxt, n = _read_varint_bytes(body[pos:])
        pos += n
        out.setdefault(ref, []).append((mint, maxt))
    return out


def read_index_series(
    path: str,
) -> list[tuple[int, dict[str, str], list["ChunkMeta"]]]:
    """read_index plus each series' file ref (= the uint64 the
    tombstones file keys on: Stone.ref is the postings entry,
    tombstones.go:88-91 / querier select path)."""
    with open(path, "rb") as f:
        b = f.read()
    if struct.unpack(">I", b[:4])[0] != INDEX_MAGIC:
        raise ValueError("bad index magic")
    if b[4] != INDEX_V1:
        raise ValueError(f"unsupported index version {b[4]}")
    toc = struct.unpack(">QQQQQQ", b[-_TOC_LEN:-4])
    (crc,) = struct.unpack(">I", b[-4:])
    if crc != _crc32c(b[-_TOC_LEN:-4]):
        raise ValueError("index TOC CRC mismatch")
    symbols = _read_symbols(b, toc[0])
    ptable = _read_offset_table(b, toc[5])
    all_off = ptable.get(("", ""))
    refs = _read_postings_at(b, all_off) if all_off is not None else []
    return [(ref, *_read_series_at(b, ref, symbols)) for ref in refs]
