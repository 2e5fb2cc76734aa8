"""Minimal pure-Python protobuf codec for the Prometheus remote-read
messages (public wire schema: prometheus storage/remote/remote.proto,
vendored in the reference at
vendor/github.com/prometheus/prometheus/storage/remote/remote.proto:18-68):

    Sample       { double value = 1; int64 timestamp_ms = 2; }
    Label        { string name = 1; string value = 2; }
    TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
    LabelMatcher { Type type = 1 (EQ=0 NEQ=1 RE=2 NRE=3);
                   string name = 2; string value = 3; }
    Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
                   repeated LabelMatcher matchers = 3; }
    ReadRequest  { repeated Query queries = 1; }
    QueryResult  { repeated TimeSeries timeseries = 1; }
    ReadResponse { repeated QueryResult results = 1; }

Only wire types 0 (varint), 1 (64-bit) and 2 (length-delimited) occur.
Unknown fields are skipped on decode (forward compatibility).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

MATCHER_OPS = {0: "=", 1: "!=", 2: "=~", 3: "!~"}
MATCHER_TYPES = {v: k for k, v in MATCHER_OPS.items()}


@dataclass
class LabelMatcher:
    type: int
    name: str
    value: str


@dataclass
class Query:
    start_ms: int
    end_ms: int
    matchers: list[LabelMatcher] = field(default_factory=list)


@dataclass
class ReadRequest:
    queries: list[Query] = field(default_factory=list)
    # remote.proto ReadRequest.accepted_response_types (field 2):
    # SAMPLES = 0, STREAMED_XOR_CHUNKS = 1. Empty means SAMPLES-only
    # (the pre-negotiation client); the server picks the FIRST
    # supported entry (prometheus storage/remote/codec.go
    # NegotiateResponseType).
    accepted_response_types: list[int] = field(default_factory=list)


RESPONSE_SAMPLES = 0
RESPONSE_STREAMED_XOR_CHUNKS = 1


@dataclass
class TimeSeries:
    labels: list[tuple[str, str]] = field(default_factory=list)
    samples: list[tuple[float, int]] = field(default_factory=list)  # (value, ts)


@dataclass
class ReadResponse:
    results: list[list[TimeSeries]] = field(default_factory=list)


# -- chunked (streamed) remote read: remote.proto ChunkedReadResponse -------
@dataclass
class Chunk:
    """prompb Chunk { int64 min_time_ms=1; int64 max_time_ms=2;
    Encoding type=3 (XOR=1); bytes data=4 }. `data` is the SAME byte
    layout as a TSDB XOR chunk body (tsdb_format.encode_xor_chunk)."""

    min_time_ms: int
    max_time_ms: int
    type: int
    data: bytes


@dataclass
class ChunkedSeries:
    labels: list[tuple[str, str]] = field(default_factory=list)
    chunks: list[Chunk] = field(default_factory=list)


@dataclass
class ChunkedReadResponse:
    chunked_series: list[ChunkedSeries] = field(default_factory=list)
    query_index: int = 0


# -- primitive writers ------------------------------------------------------
def _uv(v: int) -> bytes:
    v &= (1 << 64) - 1
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _key(fno: int, wt: int) -> bytes:
    return _uv((fno << 3) | wt)


def _ld(fno: int, payload: bytes) -> bytes:
    return _key(fno, 2) + _uv(len(payload)) + payload


def _varint_field(fno: int, v: int) -> bytes:
    return _key(fno, 0) + _uv(v)


# -- primitive readers ------------------------------------------------------
def _read_uv(buf: bytes, pos: int) -> tuple[int, int]:
    shift = out = 0
    while True:
        b = buf[pos]
        out |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return out, pos
        shift += 7


def _signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def _fields(buf: bytes):
    """Yield (field_number, wire_type, value|payload)."""
    pos = 0
    while pos < len(buf):
        key, pos = _read_uv(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _read_uv(buf, pos)
            yield fno, wt, v
        elif wt == 1:
            yield fno, wt, buf[pos : pos + 8]
            pos += 8
        elif wt == 2:
            ln, pos = _read_uv(buf, pos)
            yield fno, wt, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            yield fno, wt, buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")


# -- message codecs ---------------------------------------------------------
def encode_read_request(req: ReadRequest) -> bytes:
    out = b""
    for q in req.queries:
        qb = _varint_field(1, q.start_ms) + _varint_field(2, q.end_ms)
        for m in q.matchers:
            mb = b""
            if m.type:
                mb += _varint_field(1, m.type)
            mb += _ld(2, m.name.encode()) + _ld(3, m.value.encode())
            qb += _ld(3, mb)
        out += _ld(1, qb)
    if req.accepted_response_types:
        # proto3 repeated enum is PACKED by default (one LD field)
        out += _ld(2, b"".join(_uv(t) for t in req.accepted_response_types))
    return out


def decode_read_request(buf: bytes) -> ReadRequest:
    req = ReadRequest()
    for fno, wt, v in _fields(buf):
        if fno == 2 and wt == 2:
            # packed accepted_response_types
            pos = 0
            while pos < len(v):
                t, pos = _read_uv(v, pos)
                req.accepted_response_types.append(t)
        elif fno == 2 and wt == 0:
            # unpacked (proto2-style) encoding is equally legal
            req.accepted_response_types.append(v)
        elif fno == 1 and wt == 2:
            q = Query(0, 0)
            for qf, qwt, qv in _fields(v):
                if qf == 1 and qwt == 0:
                    q.start_ms = _signed64(qv)
                elif qf == 2 and qwt == 0:
                    q.end_ms = _signed64(qv)
                elif qf == 3 and qwt == 2:
                    m = LabelMatcher(0, "", "")
                    for mf, mwt, mv in _fields(qv):
                        if mf == 1 and mwt == 0:
                            m.type = mv
                        elif mf == 2 and mwt == 2:
                            m.name = mv.decode()
                        elif mf == 3 and mwt == 2:
                            m.value = mv.decode()
                    q.matchers.append(m)
            req.queries.append(q)
    return req


def encode_read_response(resp: ReadResponse) -> bytes:
    return b"".join(
        _ld(1, b"".join(_ld(1, _encode_timeseries(ts)) for ts in result))
        for result in resp.results
    )


def decode_read_response(buf: bytes) -> ReadResponse:
    resp = ReadResponse()
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == 2:
            result: list[TimeSeries] = []
            for rf, rwt, rv in _fields(v):
                if rf == 1 and rwt == 2:
                    ts = TimeSeries()
                    for tf, twt, tv in _fields(rv):
                        if tf == 1 and twt == 2:
                            name = value = ""
                            for lf, lwt, lv in _fields(tv):
                                if lf == 1 and lwt == 2:
                                    name = lv.decode()
                                elif lf == 2 and lwt == 2:
                                    value = lv.decode()
                            ts.labels.append((name, value))
                        elif tf == 2 and twt == 2:
                            val, t = 0.0, 0
                            for sf, swt, sv in _fields(tv):
                                if sf == 1 and swt == 1:
                                    val = struct.unpack("<d", sv)[0]
                                elif sf == 2 and swt == 0:
                                    t = _signed64(sv)
                            ts.samples.append((val, t))
                    result.append(ts)
            resp.results.append(result)
    return resp


def encode_chunked_read_response(resp: ChunkedReadResponse) -> bytes:
    out = b""
    for cs in resp.chunked_series:
        csb = b""
        for name, value in cs.labels:
            csb += _ld(1, _ld(1, name.encode()) + _ld(2, value.encode()))
        for ch in cs.chunks:
            chb = b""
            if ch.min_time_ms:
                chb += _varint_field(1, ch.min_time_ms)
            if ch.max_time_ms:
                chb += _varint_field(2, ch.max_time_ms)
            if ch.type:
                chb += _varint_field(3, ch.type)
            chb += _ld(4, ch.data)
            csb += _ld(2, chb)
        out += _ld(1, csb)
    if resp.query_index:
        out += _varint_field(2, resp.query_index)
    return out


def decode_chunked_read_response(buf: bytes) -> ChunkedReadResponse:
    resp = ChunkedReadResponse()
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == 2:
            cs = ChunkedSeries()
            for cf, cwt, cv in _fields(v):
                if cf == 1 and cwt == 2:
                    name = value = ""
                    for lf, lwt, lv in _fields(cv):
                        if lf == 1 and lwt == 2:
                            name = lv.decode()
                        elif lf == 2 and lwt == 2:
                            value = lv.decode()
                    cs.labels.append((name, value))
                elif cf == 2 and cwt == 2:
                    ch = Chunk(0, 0, 0, b"")
                    for hf, hwt, hv in _fields(cv):
                        if hf == 1 and hwt == 0:
                            ch.min_time_ms = _signed64(hv)
                        elif hf == 2 and hwt == 0:
                            ch.max_time_ms = _signed64(hv)
                        elif hf == 3 and hwt == 0:
                            ch.type = hv
                        elif hf == 4 and hwt == 2:
                            ch.data = hv
                    cs.chunks.append(ch)
            resp.chunked_series.append(cs)
        elif fno == 2 and wt == 0:
            resp.query_index = _signed64(v)
    return resp


@dataclass
class WriteRequest:
    """remote.proto:34-36 — vendored but never served by the reference
    (server.go:51-52 registers only /read); implemented here as the
    write path the reference deliberately lacks."""

    timeseries: list[TimeSeries] = field(default_factory=list)


def _encode_samples(samples: list[tuple[float, int]]) -> bytes:
    """Every Sample (TimeSeries field 2) in one numpy pass, each
    `0x12 len 0x09 <double> 0x10 <varint ms>`: both fields always
    emitted (proto3 elision is legal; explicit fields decode
    everywhere), the body <= 20 bytes so its length prefix is one byte,
    and a negative timestamp a 10-byte two's-complement varint."""
    if not samples:
        return b""
    values, ts = zip(*samples)
    u = np.array(ts, np.int64).view(np.uint64)
    nb = np.ones(len(u), np.int64)  # varint bytes
    for k in range(1, 10):
        nb += u >= np.uint64(1 << (7 * k))
    off = np.cumsum(12 + nb) - (12 + nb)
    out = np.empty(int(off[-1] + 12 + nb[-1]), np.uint8)
    out[off] = 0x12
    out[off + 1] = 10 + nb
    out[off + 2] = 0x09
    out[(off + 3)[:, None] + np.arange(8)] = (
        np.array(values, "<f8").view(np.uint8).reshape(-1, 8)
    )
    out[off + 11] = 0x10
    for k in range(10):
        on = nb > k
        b = (u[on] >> np.uint64(7 * k)) & np.uint64(0x7F)
        out[off[on] + 12 + k] = b | (nb[on] > k + 1) * np.uint64(0x80)  # continuation bit
    return out.tobytes()


def _encode_timeseries(ts: TimeSeries) -> bytes:
    labels = b"".join(
        _ld(1, _ld(1, name.encode()) + _ld(2, value.encode()))
        for name, value in ts.labels
    )
    return labels + _encode_samples(ts.samples)


def _decode_timeseries(buf: bytes) -> TimeSeries:
    ts = TimeSeries()
    for tf, twt, tv in _fields(buf):
        if tf == 1 and twt == 2:
            name = value = ""
            for lf, lwt, lv in _fields(tv):
                if lf == 1 and lwt == 2:
                    name = lv.decode()
                elif lf == 2 and lwt == 2:
                    value = lv.decode()
            ts.labels.append((name, value))
        elif tf == 2 and twt == 2:
            val, t = 0.0, 0
            for sf, swt, sv in _fields(tv):
                if sf == 1 and swt == 1:
                    val = struct.unpack("<d", sv)[0]
                elif sf == 2 and swt == 0:
                    t = _signed64(sv)
            ts.samples.append((val, t))
    return ts


def encode_write_request(req: WriteRequest) -> bytes:
    return b"".join(_ld(1, _encode_timeseries(ts)) for ts in req.timeseries)


def decode_write_request(buf: bytes) -> WriteRequest:
    req = WriteRequest()
    for fno, wt, v in _fields(buf):
        if fno == 1 and wt == 2:
            req.timeseries.append(_decode_timeseries(v))
    return req
