"""Prometheus remote-read serving layer (SURVEY §3.1 end-to-end).

Request path, mirroring agni server.go:64-97 stage by stage:
  POST /read body --snappy--> protobuf ReadRequest        (S12)
  per Query: (start_ms, end_ms, matchers)                  (server.go:100-103)
  matcher translation -> agni_spark.Matcher                (server.go:107-132)
  Querier.match_series: driver postings -> series ids and
    label lists (agni's synced index cache)               (server.go:134-162)
  ONE pruned scan: Querier.select(sort=False) filtered to
    those ids, brought home as Arrow                      (stages 4-5 collapse)
  matrix assembly: numpy sort by (series, ts, value), split per series
  proto ReadResponse --snappy--> HTTP 200                  (S13)

A remote read is one Spark job once the querier's postings are built:
the sample fetch. Series come out in series_id order (label-set order)
with time-sorted samples, the reference's output contract
(querier.go:314-328). PromQL range and instant results are collected
and sorted on the driver likewise.

Errors are typed. POST: a body that cannot be decoded, a matcher that
cannot be compiled, or an unsatisfiable response-type negotiation is a
`BadRequest` (HTTP 400). GET: a missing or non-numeric parameter, or a
selector that does not parse (a ValueError), is bad input (400; an
unknown metadata path 404). Any other failure is an engine fault (500).
"""

from __future__ import annotations

import hashlib
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
from pyspark.sql import functions as F

from agni_spark.matchers import NRE, RE, Matcher
from agni_spark.protocol import remote_pb as pb
from agni_spark.protocol import snappy_codec as snappy
from agni_spark.querier import Querier

_WIRE_OPS = {0: "=", 1: "!=", 2: "=~", 3: "!~"}  # remote.proto:53-58


class BadRequest(ValueError):
    """The request itself is at fault (HTTP 400)."""


def _decoded(decode, body: bytes):
    """`decode(snappy.decompress(body))`, any failure a BadRequest."""
    try:
        return decode(snappy.decompress(body))
    except Exception as e:  # noqa: BLE001 - malformed bytes fail in many ways
        raise BadRequest(f"undecodable body: {e}") from e


def matchers_from_proto(ms: list[pb.LabelMatcher]) -> list[Matcher]:
    """Wire matcher -> engine matcher (server.go:107-132); an unknown
    op or an invalid regex is a BadRequest."""
    out = []
    for m in ms:
        if m.type not in _WIRE_OPS:
            raise BadRequest(f"unknown matcher type {m.type}")
        if _WIRE_OPS[m.type] in (RE, NRE):
            try:
                re.compile(m.value)
            except re.error as e:
                raise BadRequest(f"invalid regex {m.value!r}: {e}") from e
        out.append(Matcher(_WIRE_OPS[m.type], m.name, m.value))
    return out


def _series_points(querier: Querier, q: pb.Query):
    """(labels, ts_ms list, value list) per series matching one
    remote-read Query, in series_id order; samples sorted by time.

    Matchers resolve on the driver (`Querier.match_series`); the
    samples come from ONE pruned scan (`Querier.select_ids`: time
    bounds pushed to parquet, filtered to the matched ids, no shuffle)
    as Arrow. numpy orders them by (series_id, ts_ms, value), the order
    sort_array(struct(ts, value)) gave per series, and splits them."""
    ids, labels = querier.match_series(matchers_from_proto(q.matchers))
    if not len(ids):
        return
    pts = (
        querier.select_ids(ids, q.start_ms, q.end_ms)
        .select("series_id", "ts_ms", "value")
        .toArrow()  # serving edge: results only
    )
    sid, ts, vs = (pts[c].to_numpy() for c in ("series_id", "ts_ms", "value"))
    order = np.lexsort((vs, ts, sid))
    sid, ts, vs = sid[order], ts[order], vs[order]
    starts = np.flatnonzero(np.diff(sid, prepend=sid[:1] - 1))
    ends = np.append(starts[1:], len(sid))
    for i, a, b in zip(np.searchsorted(ids, sid[starts]).tolist(), starts, ends):
        yield labels[i], ts[a:b].tolist(), vs[a:b].tolist()


def evaluate_query(querier: Querier, q: pb.Query) -> list[pb.TimeSeries]:
    """One remote-read Query -> list of TimeSeries (the Matrix)."""
    return [
        pb.TimeSeries(labels=labels, samples=list(zip(vs, ts)))
        for labels, ts, vs in _series_points(querier, q)
    ]


# -- streamed remote read (STREAMED_XOR_CHUNKS) ------------------------------
# The response type modern Prometheus (>= 2.13) negotiates: instead of
# one giant sampled Matrix, the server streams framed
# ChunkedReadResponse messages whose payloads are TSDB XOR chunks (the
# E1 encoder reused verbatim). Content negotiation + wire framing
# follow prometheus storage/remote/codec.go NegotiateResponseType and
# storage/remote/chunked.go ChunkedWriter: each frame is
#   uvarint(len(data)) + BE u32 CRC-32C(data) + data,
# data = snappy(marshal(ChunkedReadResponse)).

CONTENT_TYPE_SAMPLES = "application/x-protobuf"
CONTENT_TYPE_STREAMED = (
    "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse"
)
_SAMPLES_PER_CHUNK = 120  # tsdb's target chunk fill (head.go appender)


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def write_chunked_frame(data: bytes) -> bytes:
    """One ChunkedWriter frame: uvarint length, CRC-32C, payload."""
    from agni_spark.sources.tsdb_format import _crc32c

    import struct as _struct

    return _uvarint(len(data)) + _struct.pack(">I", _crc32c(data)) + data


def read_chunked_frames(stream: bytes) -> list[bytes]:
    """Split a framed byte stream back into payloads, verifying CRCs
    (the ChunkedReader side of chunked.go)."""
    import struct as _struct

    from agni_spark.protocol.remote_pb import _read_uv
    from agni_spark.sources.tsdb_format import _crc32c

    out, pos = [], 0
    while pos < len(stream):
        ln, pos = _read_uv(stream, pos)
        (crc,) = _struct.unpack(">I", stream[pos : pos + 4])
        pos += 4
        data = stream[pos : pos + ln]
        pos += ln
        if _crc32c(data) != crc:
            raise ValueError("chunked frame CRC mismatch")
        out.append(data)
    return out


def evaluate_query_chunked(
    querier: Querier, q: pb.Query, query_index: int
) -> list[bytes]:
    """One remote-read Query -> framed ChunkedReadResponse messages,
    one frame per series (codec.go StreamChunkedReadResponses flushes
    on a per-series budget; per-series is the natural Spark batch).
    Samples re-encode into XOR chunks of <= 120 samples — the same
    Gorilla bytes a TSDB block would hold, so a chunk-native client
    decodes with its existing path."""
    from agni_spark.sources.tsdb_format import ENC_XOR, encode_xor_chunk

    frames = []
    for labels, ts, vs in _series_points(querier, q):
        pts = list(zip(ts, vs))
        chunks = []
        for i in range(0, len(pts), _SAMPLES_PER_CHUNK):
            part = pts[i : i + _SAMPLES_PER_CHUNK]
            chunks.append(
                pb.Chunk(
                    min_time_ms=part[0][0],
                    max_time_ms=part[-1][0],
                    type=ENC_XOR,
                    data=encode_xor_chunk(part),
                )
            )
        msg = pb.ChunkedReadResponse(
            chunked_series=[pb.ChunkedSeries(labels=labels, chunks=chunks)],
            query_index=query_index,
        )
        frames.append(
            write_chunked_frame(
                snappy.compress(pb.encode_chunked_read_response(msg))
            )
        )
    return frames


def handle_read_negotiated(
    querier: Querier, body: bytes
) -> tuple[bytes, str]:
    """POST /read with content negotiation: returns (payload,
    content_type). STREAMED_XOR_CHUNKS is served when the client
    accepts it (first supported entry wins, codec.go semantics);
    otherwise the sampled-Matrix path — byte-identical to before for
    pre-negotiation clients."""
    req = _decoded(pb.decode_read_request, body)
    # codec.go NegotiateResponseType: scan the client's preference
    # list IN ORDER and serve the first type we support; an empty list
    # means the legacy default [SAMPLES]. A client sending
    # [SAMPLES, STREAMED_XOR_CHUNKS] prefers SAMPLES and must NOT get
    # a streamed body it would misparse as a snappy ReadResponse.
    accepted = req.accepted_response_types or [pb.RESPONSE_SAMPLES]
    chosen = next(
        (
            t
            for t in accepted
            if t in (pb.RESPONSE_SAMPLES, pb.RESPONSE_STREAMED_XOR_CHUNKS)
        ),
        None,
    )
    if chosen is None:
        # a NON-EMPTY accepted list with no type we support is a
        # protocol error (codec.go NegotiateResponseType returns an
        # error) — serving SAMPLES anyway would hand the client a body
        # it never agreed to parse. Handler maps this to HTTP 400.
        raise BadRequest(
            f"server does not support any of accepted_response_types="
            f"{accepted}"
        )
    if chosen == pb.RESPONSE_STREAMED_XOR_CHUNKS:
        stream = b"".join(
            frame
            for i, q in enumerate(req.queries)
            for frame in evaluate_query_chunked(querier, q, i)
        )
        return stream, CONTENT_TYPE_STREAMED
    resp = pb.ReadResponse(
        results=[evaluate_query(querier, q) for q in req.queries]
    )
    return (
        snappy.compress(pb.encode_read_response(resp)),
        CONTENT_TYPE_SAMPLES,
    )


class RemoteReadServer:
    """Threaded HTTP server exposing POST /read (server.go:51)."""

    def __init__(
        self,
        querier: Querier,
        host: str = "127.0.0.1",
        port: int = 0,
        write_store: str | None = None,
        spark=None,
        alert_rules: list[dict] | None = None,
    ):
        """write_store + spark enable POST /write (remote-write receive
        into that block store); without them /write returns 404 — the
        reference's exact read-only posture (server.go:51-52).
        `alert_rules` configures GET /api/v1/rules (see handle_rules)."""
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802
                if self.path not in ("/read", "/write"):
                    self.send_error(404)
                    return
                if self.path == "/write" and (
                    outer.write_store is None or outer.spark is None
                ):
                    self.send_error(404, "write endpoint not enabled")
                    return
                try:
                    try:
                        n = int(self.headers.get("Content-Length", "0"))
                    except ValueError as e:
                        raise BadRequest("bad Content-Length") from e
                    body = self.rfile.read(n)
                    if self.path == "/write":
                        n = handle_write(outer.spark, body, outer.write_store)
                        payload = str(n).encode()
                        ctype = "application/x-protobuf"
                    else:
                        payload, ctype = handle_read_negotiated(
                            outer.querier, body
                        )
                except BadRequest as e:
                    self.send_error(400, str(e)[:200])
                    return
                except Exception as e:  # noqa: BLE001 - engine fault
                    self.send_error(500, str(e)[:200])
                    return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                if ctype == CONTENT_TYPE_SAMPLES:
                    # frames of a streamed response are internally
                    # snappy-compressed; only the sampled body is
                    # whole-message snappy (chunked.go vs codec.go)
                    self.send_header("Content-Encoding", "snappy")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self) -> None:  # noqa: N802
                from urllib.parse import parse_qs, urlparse

                parsed = urlparse(self.path)
                ctype = "application/json"
                try:
                    if parsed.path == "/federate":
                        payload = handle_federate(
                            outer.querier, parse_qs(parsed.query)
                        )
                        ctype = "text/plain; version=0.0.4"
                    elif parsed.path == "/api/v1/rules":
                        payload = handle_rules(
                            outer.querier, outer.alert_rules
                        )
                    elif parsed.path == "/api/v1/query_range":
                        payload = handle_query_range(
                            outer.querier, parse_qs(parsed.query)
                        )
                    elif parsed.path == "/api/v1/query":
                        payload = handle_query(
                            outer.querier, parse_qs(parsed.query)
                        )
                    elif parsed.path.startswith("/api/v1/"):
                        payload = handle_metadata(
                            outer.querier, parsed.path, parse_qs(parsed.query)
                        )
                    else:
                        self.send_error(404)
                        return
                except ValueError as e:  # bad input, BadRequest included
                    self.send_error(404 if "unknown" in str(e) else 400,
                                    str(e)[:200])
                    return
                except Exception as e:  # noqa: BLE001 - engine fault
                    self.send_error(500, str(e)[:200])
                    return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a) -> None:  # quiet
                pass

        self.querier = querier
        self.write_store = write_store
        self.spark = spark
        self.alert_rules = alert_rules
        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_port
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()


# -- remote-write receive path (beyond reference: agni vendors the
# -- WriteRequest proto but registers only /read, server.go:51-52) ----------

def decode_write(spark, body: bytes):
    """snappy+proto WriteRequest -> (samples_df, series_df).

    series_id is the deterministic 60-bit hash of the canonical sorted
    label string (the engine-side twin of tsdb's labels hash,
    labels.go:57-68) — writers on any node derive identical ids with no
    coordination, which is what makes the receive path shardable. Both
    DataFrames are built from Arrow tables, whatever the session's
    Arrow setting: no Python rows, no Python worker. A body that does
    not decode raises BadRequest."""
    import pyarrow as pa

    req = _decoded(pb.decode_write_request, body)
    sids, labelsets, points = [], [], []
    for ts in req.timeseries:
        labels = sorted(ts.labels)
        key = ",".join(f"{n}={v}" for n, v in labels)
        sid = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        sids.append(sid)
        labelsets.append(dict(labels))
        points += [(sid, t, value) for value, t in ts.samples]
    samples = pa.table(list(zip(*points)) or [[]] * 3, names=["series_id", "ts_ms", "value"])
    labelsets = pa.array(labelsets, pa.map_(pa.string(), pa.string()))
    return (
        spark.createDataFrame(samples, "series_id long, ts_ms long, value double"),
        spark.createDataFrame(
            pa.table([sids, labelsets], names=["series_id", "labels"]),
            "series_id long, labels map<string,string>",
        ),
    )


def handle_write(spark, body: bytes, store_path: str, block_ms: int = 7_200_000):
    """POST /write: append the request's series dim rows, samples and a
    registry commit of the blocks they landed in, via
    `layout.write_blocks` (serialized per store). Readers dedupe the
    series dim on series_id. Returns the sample count."""
    from agni_spark.sources import layout

    samples, series = decode_write(spark, body)
    return layout.write_blocks(
        samples, store_path, block_ms=block_ms, mode="append", series=series
    )


# -- PromQL query API (beyond reference: upstream Prometheus's job) ---------

def _asc(v) -> tuple:
    """Sort key placing `v` where Spark's ascending ORDER BY does:
    NULLS FIRST, and NaN after every other double."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    return (1, v)


def _group_by_series(pts, dim, groups: dict[tuple, list]) -> None:
    """Add each (series_id, t, value) row of Arrow table `pts` to
    `groups` under its series' label tuple from the driver dim `dim`
    (sorted by series_id); rows of ids not in `dim` are dropped, as
    the inner join with the dim drops them."""
    sid = pts.column(0).to_numpy()
    ids = dim["series_id"].to_numpy()
    pos = np.minimum(np.searchsorted(ids, sid), len(ids) - 1)
    keep = ids[pos] == sid if len(ids) else np.zeros(len(sid), bool)
    pts, pos = pts.filter(keep), pos[keep]
    rows = np.unique(pos)
    cols = [dim[c].take(rows).to_pylist() for c in dim.column_names[1:]]
    keys = {i: tuple(c[j] for c in cols) for j, i in enumerate(rows.tolist())}
    for i, t, v in zip(pos.tolist(), pts.column(1).to_pylist(), pts.column(2).to_pylist()):
        groups.setdefault(keys[i], []).append((t, v))


def eval_promql(
    querier: Querier,
    expr_text: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
    step_ms: int | None = None,
) -> dict:
    """Evaluate a PromQL expression and shape the result like
    Prometheus's /api/v1/query_range response (resultType matrix).
    Evaluation is one Catalyst plan via promql_parser, its selector
    leaves and label joins served from the querier's driver postings
    and dim. The fetch is at the serving edge: series-keyed rows come
    home as Arrow `(series_id, t, value)` and take their labels from
    the driver dim (ids missing from it are dropped, as the dim join
    drops them); other rows, or a querier without a driver dim, are
    collected with their label columns.

    When `step` divides the range window and the expression is a bare
    over_time function, evaluation is SLIDING (window > step), matching
    Prometheus's independent step/window semantics; otherwise the step
    is the window (tumbling)."""
    from agni_spark import promql_parser as pql
    from agni_spark.functions import promql as pf

    expr = pql.parse(expr_text)
    _SLIDING = {
        "sum_over_time": "sum_value",
        "avg_over_time": "avg_value",
        "count_over_time": "n",
        "min_over_time": "min_value",
        "max_over_time": "max_value",
        "last_over_time": "last_value",
    }
    if (
        step_ms
        and isinstance(expr, pql.Func)
        and expr.name in _SLIDING
        and expr.arg.range_ms
        and expr.arg.range_ms != step_ms
        and expr.arg.range_ms % step_ms == 0
    ):
        sel = pql.compile_expr(expr.arg, querier, start_ms, end_ms)
        sl = pf.range_agg_sliding(sel, expr.arg.range_ms, step_ms)
        df = sl.select(
            "series_id",
            F.col("wstart_ms").alias("bucket_ms"),
            F.col(_SLIDING[expr.name]).cast("double").alias("value"),
        )
    else:
        df = pql.compile_expr(expr, querier, start_ms, end_ms)
    cols = df.columns
    tcol = "ts_ms" if "ts_ms" in cols else (
        "bucket_ms" if "bucket_ms" in cols else None
    )
    label_cols = [c for c in cols if c not in (tcol, "value", "rk")]
    tc = F.col(tcol) if tcol else F.lit(end_ms or 0)
    # ORDER BY labels, time on the driver, with sort-key work per label
    # set, not per point: group the points, sort the sets, then each
    # set's points by time
    groups: dict[tuple, list] = {}
    dim = querier.driver_dim() if label_cols == ["series_id"] else None
    if dim is not None:
        # series ids resolve to label sets in driver memory
        label_cols = dim.column_names[1:]
        _group_by_series(df.select("series_id", tc, "value").toArrow(), dim, groups)
    else:
        if label_cols == ["series_id"]:
            df = df.join(querier.series, "series_id")
            label_cols = [c for c in querier.series.columns if c != "series_id"]
        n = len(label_cols)
        for r in df.select(*label_cols, tc, "value").collect():
            groups.setdefault(tuple(r[:n]), []).append(tuple(r[n:]))
    result: list[dict] = []
    for key in sorted(groups, key=lambda k: tuple(map(_asc, k))):
        points = sorted(groups[key], key=lambda p: _asc(p[0]))
        result.append({
            "metric": {c: v for c, v in zip(label_cols, key) if v is not None},
            "values": [[t / 1000.0, str(v)] for t, v in points],
        })
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": result},
    }


def _param(params: dict, name: str) -> str:
    """The first value of a required query parameter; BadRequest when
    it is missing."""
    if name not in params:
        raise BadRequest(f"missing parameter {name!r}")
    return params[name][0]


def _ms_param(params: dict, name: str, required: bool = False) -> int | None:
    """A seconds parameter as integer ms (None when absent and not
    `required`); BadRequest when it is not a number."""
    if name not in params and not required:
        return None
    text = _param(params, name)
    try:
        return int(float(text) * 1000)
    except (ValueError, OverflowError) as e:
        raise BadRequest(f"parameter {name!r} is not a number: {text!r}") from e


def handle_query_range(querier: Querier, params: dict) -> bytes:
    """GET /api/v1/query_range?query=...&start=...&end=... (seconds,
    like Prometheus). Returns the JSON body."""
    import json

    expr = _param(params, "query")
    start_ms, end_ms, step_ms = (_ms_param(params, k) for k in ("start", "end", "step"))
    try:
        body = eval_promql(querier, expr, start_ms, end_ms, step_ms)
    except ValueError as e:
        body = {"status": "error", "errorType": "bad_data", "error": str(e)}
    return json.dumps(body).encode()


# -- metadata API (label_names / label_values / series: querier M4/M5/S6) ---

def _parse_selector_matchers(param_values: list[str]) -> list[Matcher]:
    """Parse repeated match[] params ('{job=\"api\",env!=\"dev\"}' or a
    bare metric name) into engine matchers via the PromQL parser."""
    from agni_spark import promql_parser as pql

    out: list[Matcher] = []
    for text in param_values:
        sel = pql.parse(text)
        if not isinstance(sel, pql.Selector):
            raise ValueError(f"match[] must be a selector: {text!r}")
        ms = list(sel.matchers)
        if sel.metric is not None:
            ms.append(Matcher("=", "__name__", sel.metric))
        out.extend(ms)
    return out


def handle_metadata(querier: Querier, path: str, params: dict) -> bytes:
    """GET /api/v1/labels | /api/v1/label/<name>/values |
    /api/v1/series?match[]=... — JSON bodies in Prometheus's shape."""
    import json

    matchers = _parse_selector_matchers(params.get("match[]", []))
    if path == "/api/v1/status/tsdb":
        top = (
            querier.series_labels.groupBy("name", "value")
            .agg(F.countDistinct("series_id").alias("n"))
            .orderBy(F.col("n").desc(), "name", "value")
            .limit(10)
            .collect()
        )
        n_series = querier.series.count()
        data = {
            "numSeries": n_series,
            "seriesCountByLabelValuePair": [
                {"name": f"{r.name}={r.value}", "value": r.n} for r in top
            ],
        }
    elif path == "/api/v1/labels":
        data = [r.name for r in querier.label_names(matchers).collect()]
    elif path == "/api/v1/series":
        label_cols = [c for c in querier.series.columns if c != "series_id"]
        rows = querier.series_for(matchers).collect()
        data = []
        for r in rows:
            d = {}
            for c in label_cols:
                if r[c] is not None:
                    d["__name__" if c == "metric" else c] = r[c]
            data.append(d)
    else:
        m = re.fullmatch(r"/api/v1/label/([^/]+)/values", path)
        if not m:
            raise ValueError(f"unknown metadata path {path!r}")
        data = [r.value for r in querier.label_values(m.group(1), matchers).collect()]
    return json.dumps({"status": "success", "data": data}).encode()


def eval_instant(
    querier: Querier,
    expr_text: str,
    time_ms: int,
    lookback_ms: int = 300_000,
) -> dict:
    """GET /api/v1/query evaluation: instant vector at `time_ms` with
    Prometheus staleness lookback — supports selectors and label
    aggregations over them."""
    from agni_spark import promql_parser as pql
    from agni_spark.functions import promql as pf

    expr = pql.parse(expr_text)

    def instant_of(sel: "pql.Selector"):
        if sel.range_ms is not None:
            raise ValueError("instant query takes an instant selector")
        ms = list(sel.matchers)
        if sel.metric is not None:
            ms.append(Matcher("=", "__name__", sel.metric))
        return pf.instant(querier.select_matching(ms), time_ms, lookback_ms)

    label_cols = [c for c in querier.series.columns if c != "series_id"]
    if isinstance(expr, pql.Selector):
        df = instant_of(expr).join(querier.series_dim(*label_cols), "series_id")
        keys = label_cols
        val = "value"
    elif isinstance(expr, pql.Agg) and isinstance(expr.arg, pql.Selector):
        inner = instant_of(expr.arg)
        if expr.mode == "by":
            keys = [l for l in expr.labels if l in label_cols]
        elif expr.mode == "without":
            keys = [c for c in label_cols if c not in set(expr.labels)]
        else:
            keys = []
        aggs = {
            "sum": F.round(F.sum("value"), 4),
            "avg": F.round(F.avg("value"), 6),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count(F.lit(1)).cast("double"),
        }
        df = inner.join(querier.series_dim(*keys), "series_id").groupBy(*keys).agg(
            aggs[expr.op].alias("value")
        )
        val = "value"
    else:
        raise ValueError(
            "instant query supports selectors and label aggregations"
        )
    rows = sorted(df.collect(), key=lambda r: tuple(_asc(r[c]) for c in keys))
    result = []
    for r in rows:
        metric = {}
        for c in keys:
            if r[c] is not None:
                metric["__name__" if c == "metric" else c] = r[c]
        result.append(
            {"metric": metric, "value": [time_ms / 1000.0, str(r[val])]}
        )
    return {
        "status": "success",
        "data": {"resultType": "vector", "result": result},
    }


def handle_query(querier: Querier, params: dict) -> bytes:
    """GET /api/v1/query?query=...&time=... (seconds)."""
    import json

    expr = _param(params, "query")
    time_ms = _ms_param(params, "time", required=True)
    try:
        body = eval_instant(querier, expr, time_ms)
    except ValueError as e:
        body = {"status": "error", "errorType": "bad_data", "error": str(e)}
    return json.dumps(body).encode()


def handle_federate(querier: Querier, params: dict) -> bytes:
    """GET /federate?match[]=... — Prometheus's federation endpoint:
    the LATEST sample of every matching series, as exposition text
    (scrapeable by another Prometheus; the inverse of our exposition
    ingest). Evaluation is one Catalyst plan: matcher select, per-
    series argmax-ts, series labels re-assembled into a map and
    formatted by protocol.exposition.format_exposition. The collect is
    the serving edge writing the HTTP body."""
    from pyspark.sql import Window

    from agni_spark.protocol.exposition import format_exposition

    matchers = _parse_selector_matchers(params.get("match[]", []))
    if not matchers:
        raise ValueError("federate requires at least one match[]")
    sel = querier.select(matchers, sort=False)
    w = Window.partitionBy("series_id").orderBy(
        F.col("ts_ms").desc(), F.col("value").desc()
    )
    latest = (
        sel.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("series_id", "ts_ms", "value")
    )
    lbls = (
        querier.series_labels.groupBy("series_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("name", "value")))
            ).alias("labels")
        )
    )
    lines = format_exposition(latest, lbls)
    body = "\n".join(r.line for r in lines.collect())
    return (body + "\n").encode() if body else b""


def handle_rules(
    querier: Querier, alert_rules: list[dict] | None
) -> bytes:
    """GET /api/v1/rules — evaluate the server's configured alerting
    rules and report each alert element's CURRENT state (the
    Prometheus rules API shape, evaluated on demand: condition vector
    on the rule's step grid -> `for:` run-length check -> the LATEST
    step decides firing/pending; an element with no current row is
    inactive and alerts list only active elements).

    Each rule: {"name", "expr", "for_ms" (0 = fire immediately),
    "step_ms"}. Evaluation is one Catalyst plan per rule; the collect
    is the serving edge building the JSON body."""
    import json

    from agni_spark import promql_parser as pql
    from agni_spark.functions import promql as pf

    groups = []
    for rule in alert_rules or []:
        step_ms = int(rule.get("step_ms", 3_600_000))
        for_ms = int(rule.get("for_ms", 0))
        cond = pql.query(querier, rule["expr"], step_ms=step_ms)
        keys = [
            c for c in cond.columns if c not in ("bucket_ms", "value")
        ]
        has_grid = "bucket_ms" in cond.columns
        if for_ms > 0 and has_grid:
            st = pf.alert_for_state(cond, keys, for_ms, step_ms)
        else:
            # instant-shaped condition (no step grid) or for: 0 —
            # any present element is immediately firing
            st = cond.withColumn("state", F.lit("firing"))
        if has_grid:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(F.col("bucket_ms").desc())
            latest = (
                st.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
            )
        else:
            latest = st.withColumn("bucket_ms", F.lit(None).cast("long"))
        alerts = []
        for r in latest.collect():  # serving edge
            alerts.append(
                {
                    "labels": {
                        k: r[k] for k in keys if r[k] is not None
                    },
                    "state": r["state"],
                    "value": r["value"],
                    "activeAt_ms": r["bucket_ms"],
                }
            )
        state = (
            "firing"
            if any(a["state"] == "firing" for a in alerts)
            else ("pending" if alerts else "inactive")
        )
        groups.append(
            {
                "name": rule["name"],
                "query": rule["expr"],
                "duration_ms": for_ms,
                "state": state,
                "alerts": alerts,
            }
        )
    return json.dumps(
        {
            "status": "success",
            "data": {"groups": [{"name": "default", "rules": groups}]},
        }
    ).encode()
