"""Protocol conformance (SURVEY §5.4): snappy codec, protobuf wire
format against HAND-BUILT golden bytes (independent of our encoder),
and the full /read HTTP round trip."""

from __future__ import annotations

import struct
import urllib.request

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from agni_spark.protocol import remote_pb as pb
from agni_spark.protocol import snappy_codec as snappy


# -- snappy -----------------------------------------------------------------
def test_snappy_roundtrip_simple():
    for data in [b"", b"x", b"hello world" * 100, bytes(range(256)) * 300]:
        assert snappy.decompress(snappy.compress(data)) == data


def test_snappy_decodes_foreign_copies():
    # hand-built stream using copy elements (our compressor never emits
    # them; a conforming decoder must): "abcdabcdabcd"
    # literal "abcd" then copy(offset=4, len=8) -> 2-byte-offset form
    golden = bytes([12]) + bytes([(4 - 1) << 2]) + b"abcd" + bytes(
        [((8 - 1) << 2) | 2]
    ) + struct.pack("<H", 4)
    assert snappy.decompress(golden) == b"abcdabcdabcd"


def test_snappy_overlapping_copy():
    # literal "ab" + copy(offset=2, len=6) -> "abababab" (RLE-style)
    golden = bytes([8, (2 - 1) << 2]) + b"ab" + bytes(
        [((6 - 1) << 2) | 2]
    ) + struct.pack("<H", 2)
    assert snappy.decompress(golden) == b"abababab"


def test_snappy_one_byte_offset_copy():
    # literal "abcd" + copy1(offset=4, len=4)
    golden = bytes([8, (4 - 1) << 2]) + b"abcd" + bytes(
        [((4 - 4) << 2) | 1, 4]
    )
    assert snappy.decompress(golden) == b"abcdabcd"


def test_snappy_length_mismatch_rejected():
    bad = bytes([5, (4 - 1) << 2]) + b"abcd"
    with pytest.raises(ValueError, match="length"):
        snappy.decompress(bad)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200_000))
def test_snappy_property_roundtrip(data):
    assert snappy.decompress(snappy.compress(data)) == data


# -- protobuf ---------------------------------------------------------------
def test_read_request_golden_decode():
    # Hand-assembled ReadRequest: one Query{start=1000, end=2000,
    # matchers=[{type=RE(2), name="job", value="a.*"}]}
    matcher = (
        bytes([0x08, 0x02])  # field 1 varint = 2 (RE)
        + bytes([0x12, 0x03]) + b"job"  # field 2 ld "job"
        + bytes([0x1A, 0x03]) + b"a.*"  # field 3 ld "a.*"
    )
    query = (
        bytes([0x08, 0xE8, 0x07])  # field 1 varint 1000
        + bytes([0x10, 0xD0, 0x0F])  # field 2 varint 2000
        + bytes([0x1A, len(matcher)]) + matcher
    )
    req_bytes = bytes([0x0A, len(query)]) + query
    req = pb.decode_read_request(req_bytes)
    assert len(req.queries) == 1
    q = req.queries[0]
    assert (q.start_ms, q.end_ms) == (1000, 2000)
    assert (q.matchers[0].type, q.matchers[0].name, q.matchers[0].value) == (
        2, "job", "a.*",
    )
    # our encoder produces the same bytes
    assert pb.encode_read_request(req) == req_bytes


def test_read_response_roundtrip():
    resp = pb.ReadResponse(
        results=[
            [
                pb.TimeSeries(
                    labels=[("__name__", "up"), ("job", "api")],
                    samples=[(1.5, 1000), (2.5, 2000)],
                ),
                pb.TimeSeries(labels=[("job", "web")], samples=[]),
            ],
            [],
        ]
    )
    dec = pb.decode_read_response(pb.encode_read_response(resp))
    assert dec == resp


def test_unknown_fields_skipped():
    # trailing unknown field 15 (varint) must be ignored
    body = pb.encode_read_request(pb.ReadRequest([pb.Query(1, 2)])) + bytes(
        [0x78, 0x05]
    )
    req = pb.decode_read_request(body)
    assert req.queries[0].start_ms == 1


# -- end-to-end /read -------------------------------------------------------
@pytest.fixture(scope="module")
def served_querier(spark):
    from agni_spark.querier import Querier

    samples = spark.createDataFrame(
        [(0, 100, 1.0), (0, 200, 2.0), (1, 150, 5.0), (2, 500, 9.0)],
        "series_id long, ts_ms long, value double",
    )
    series = spark.createDataFrame(
        [
            (0, "up", "api", "prod"),
            (1, "up", "web", "prod"),
            (2, "down", "api", "dev"),
        ],
        "series_id long, metric string, job string, env string",
    )
    sl = spark.createDataFrame(
        [(s, n, v) for s, m, j, e in [
            (0, "up", "api", "prod"),
            (1, "up", "web", "prod"),
            (2, "down", "api", "dev"),
        ] for n, v in [("__name__", m), ("job", j), ("env", e)]],
        "series_id long, name string, value string",
    )
    return Querier(samples, series, sl)


def test_http_read_end_to_end(served_querier):
    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        req = pb.ReadRequest(
            [pb.Query(0, 1000, [pb.LabelMatcher(0, "env", "prod")])]
        )
        body = snappy.compress(pb.encode_read_request(req))
        r = urllib.request.urlopen(
            urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/read", data=body, method="POST"
            ),
            timeout=120,
        )
        assert r.status == 200
        resp = pb.decode_read_response(snappy.decompress(r.read()))
        [result] = resp.results
        assert [ts.labels for ts in result] == [
            [("__name__", "up"), ("env", "prod"), ("job", "api")],
            [("__name__", "up"), ("env", "prod"), ("job", "web")],
        ]
        assert result[0].samples == [(1.0, 100), (2.0, 200)]
        assert result[1].samples == [(5.0, 150)]
    finally:
        srv.stop()


def test_http_bad_body_is_400(served_querier):
    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/read", data=b"\xff\xff", method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=60)
        assert ei.value.code == 400
    finally:
        srv.stop()


def test_http_read_errors_are_typed(served_querier, monkeypatch):
    """POST /read answers 400 for what the client got wrong (an invalid
    regex matcher) and 500 for an engine fault."""
    from urllib.error import HTTPError

    from agni_spark.protocol import server
    from agni_spark.protocol.server import RemoteReadServer

    def post(ms):
        body = snappy.compress(pb.encode_read_request(
            pb.ReadRequest([pb.Query(0, 1000, ms)])))
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/read", data=body, method="POST")
        with pytest.raises(HTTPError) as ei:
            urllib.request.urlopen(req, timeout=60)
        return ei.value.code

    def fault(querier, q):
        raise RuntimeError("injected engine fault")
        yield

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        assert post([pb.LabelMatcher(2, "job", "(unclosed")]) == 400
        monkeypatch.setattr(server, "_series_points", fault)
        assert post([pb.LabelMatcher(0, "env", "prod")]) == 500
    finally:
        srv.stop()


def test_http_write_bad_body_is_400(spark, tmp_path):
    from urllib.error import HTTPError

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(None, write_store=str(tmp_path / "s"), spark=spark)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/write", data=b"\xff\xff", method="POST")
        with pytest.raises(HTTPError) as ei:
            urllib.request.urlopen(req, timeout=60)
        assert ei.value.code == 400
    finally:
        srv.stop()


def test_driver_postings_built_once_under_concurrent_reads(spark, served_querier, monkeypatch):
    """Two threads' first reads on one querier build its driver
    postings once, and both get the right Matrix."""
    import threading

    from agni_spark import querier as qmod
    from agni_spark.protocol.server import handle_read_negotiated
    from agni_spark.querier import Querier

    built = []

    class Counting(qmod._Postings):
        def __init__(self, *a):
            built.append(1)
            super().__init__(*a)

    monkeypatch.setattr(qmod, "_Postings", Counting)
    q = Querier(served_querier.samples, served_querier.series,
                served_querier.series_labels)
    body = snappy.compress(pb.encode_read_request(
        pb.ReadRequest([pb.Query(0, 1000, [pb.LabelMatcher(0, "env", "prod")])])))
    out, errors = [None, None], []

    def read(i):
        try:
            out[i] = handle_read_negotiated(q, body)[0]
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=read, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors and len(built) == 1
    for payload in out:
        [result] = pb.decode_read_response(snappy.decompress(payload)).results
        assert [(ts.labels, ts.samples) for ts in result] == [
            ([("__name__", "up"), ("env", "prod"), ("job", "api")], [(1.0, 100), (2.0, 200)]),
            ([("__name__", "up"), ("env", "prod"), ("job", "web")], [(5.0, 150)]),
        ]


def test_write_request_golden_bytes():
    """Hand-derived wire bytes for prompb.WriteRequest (remote.proto
    field numbers: WriteRequest.timeseries=1; TimeSeries.labels=1,
    .samples=2; Label.name=1,.value=2; Sample.value=1 (fixed64),
    .timestamp=2 (varint)) — pins the encoder to the public protobuf
    spec independently of the decoder, so an encode/decode pair of
    mirrored bugs can't hide."""
    w = pb.WriteRequest(
        [pb.TimeSeries(labels=[("a", "b")], samples=[(1.5, 42)])]
    )
    golden = bytes.fromhex(
        "0a15"            # WriteRequest.timeseries, len 21
        "0a06"            # TimeSeries.labels, len 6
        "0a0161120162"    # Label{name="a", value="b"}
        "120b"            # TimeSeries.samples, len 11
        "09000000000000f83f"  # Sample.value fixed64 double 1.5
        "102a"            # Sample.timestamp varint 42
    )
    assert pb.encode_write_request(w) == golden
    dec = pb.decode_write_request(golden)
    assert dec.timeseries[0].labels == [("a", "b")]
    assert dec.timeseries[0].samples == [(1.5, 42)]


def test_remote_write_roundtrip(spark, tmp_path):
    """Write path (beyond reference): WriteRequest proto in -> block
    store -> selectable via the Querier -> identical samples out."""
    from agni_spark.protocol import server
    from agni_spark.sources import layout
    from agni_spark.querier import Querier
    from agni_spark.matchers import eq
    from pyspark.sql import functions as F

    w = pb.WriteRequest(
        [
            pb.TimeSeries(
                labels=[("__name__", "up"), ("job", "api")],
                samples=[(1.0, 1_000), (2.5, 7_200_500)],  # spans 2 blocks
            ),
            pb.TimeSeries(
                labels=[("__name__", "up"), ("job", "web")],
                samples=[(9.0, 2_000)],
            ),
        ]
    )
    body = snappy.compress(pb.encode_write_request(w))
    store = str(tmp_path / "store")
    n = server.handle_write(spark, body, store)
    assert n == 3
    # registry committed, blocks 0 and 1 present
    reg = layout.read_registry(spark, store)
    assert sorted(r.block_id for r in reg.collect()) == [0, 1]
    # identical label sets hash to identical series ids -> the two
    # samples of series "up{job=api}" share one id across blocks
    samples = layout.read_samples(spark, store)
    assert samples.count() == 3
    assert samples.select("series_id").distinct().count() == 2
    # second write of the same series APPENDS and stays queryable
    w2 = pb.WriteRequest(
        [pb.TimeSeries(labels=[("__name__", "up"), ("job", "api")],
                       samples=[(3.0, 9_000_000)])]
    )
    server.handle_write(spark, snappy.compress(pb.encode_write_request(w2)), store)
    samples = layout.read_samples(spark, store)
    series = (
        spark.read.parquet(f"{store}/series")
        .select("series_id", F.col("labels")["job"].alias("job"))
        .distinct()
    )
    labels_long = series.select(
        "series_id", F.lit("job").alias("name"), F.col("job").alias("value")
    )
    q = Querier(samples, series, labels_long)
    got = q.select([eq("job", "api")]).collect()
    assert [(r.ts_ms, r.value) for r in got] == [
        (1_000, 1.0), (7_200_500, 2.5), (9_000_000, 3.0)
    ]


def test_write_request_proto_roundtrip():
    w = pb.WriteRequest(
        [pb.TimeSeries(labels=[("a", "b")], samples=[(0.5, -1), (1e300, 2**40)])]
    )
    w2 = pb.decode_write_request(pb.encode_write_request(w))
    assert w2.timeseries[0].labels == [("a", "b")]
    assert w2.timeseries[0].samples == [(0.5, -1), (1e300, 2**40)]


def test_http_query_range_promql(served_querier):
    import json
    import urllib.parse
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        qs = urllib.parse.urlencode(
            {"query": 'sum by (job) (sum_over_time(up[1s]))',
             "start": "0", "end": "1"}
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{qs}"
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        assert body["data"]["resultType"] == "matrix"
        series = {
            tuple(sorted(r["metric"].items())): r["values"]
            for r in body["data"]["result"]
        }
        # up{job=api}: 1+2 = 3; up{job=web}: 5 — both in bucket 0
        assert series[(("job", "api"),)] == [[0.0, "3.0"]]
        assert series[(("job", "web"),)] == [[0.0, "5.0"]]
        # bad expression -> structured error, not a 500
        qs2 = urllib.parse.urlencode({"query": "rate(up)"})
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{qs2}"
        ) as resp:
            err = json.loads(resp.read())
        assert err["status"] == "error" and "range" in err["error"]
    finally:
        srv.stop()


def test_http_metadata_endpoints(served_querier):
    import json
    import urllib.parse
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"

    def get(path, **params):
        qs = urllib.parse.urlencode(params, doseq=True)
        with urllib.request.urlopen(f"{base}{path}?{qs}") as resp:
            return json.loads(resp.read())

    try:
        labels = get("/api/v1/labels")
        assert labels["data"] == ["__name__", "env", "job"]
        vals = get("/api/v1/label/job/values")
        assert vals["data"] == ["api", "web"]
        # restricted by a selector: jobs of metric "up" only
        vals_up = get("/api/v1/label/job/values", **{"match[]": "up"})
        assert vals_up["data"] == ["api", "web"]
        vals_down = get("/api/v1/label/job/values", **{"match[]": "down"})
        assert vals_down["data"] == ["api"]
        series = get("/api/v1/series", **{"match[]": '{env="prod"}'})
        assert series["data"] == [
            {"__name__": "up", "job": "api", "env": "prod"},
            {"__name__": "up", "job": "web", "env": "prod"},
        ]
    finally:
        srv.stop()


def test_http_instant_query(served_querier):
    import json
    import urllib.parse
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        # instant at t=0.3s, default 5m lookback: newest sample per series
        qs = urllib.parse.urlencode({"query": "up", "time": "0.3"})
        with urllib.request.urlopen(f"{base}/api/v1/query?{qs}") as resp:
            body = json.loads(resp.read())
        assert body["data"]["resultType"] == "vector"
        got = {
            r["metric"]["job"]: r["value"][1]
            for r in body["data"]["result"]
        }
        # series 0 newest-at-300ms value is 2.0 (ts=200); series 1: 5.0
        assert got == {"api": "2.0", "web": "5.0"}
        # aggregation form
        qs = urllib.parse.urlencode(
            {"query": "sum by (env) (up)", "time": "0.3"}
        )
        with urllib.request.urlopen(f"{base}/api/v1/query?{qs}") as resp:
            agg = json.loads(resp.read())
        vals = {r["metric"]["env"]: r["value"][1]
                for r in agg["data"]["result"]}
        assert vals == {"prod": "7.0"}
    finally:
        srv.stop()


def test_http_write_endpoint(spark, served_querier, tmp_path):
    import urllib.error
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer
    from agni_spark.sources import layout

    store = str(tmp_path / "wstore")
    srv = RemoteReadServer(served_querier, write_store=store, spark=spark)
    srv.start()
    try:
        w = pb.WriteRequest(
            [pb.TimeSeries(labels=[("__name__", "rx")],
                           samples=[(1.5, 1000)])]
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/write",
            data=snappy.compress(pb.encode_write_request(w)),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.read() == b"1"
        assert layout.read_samples(spark, store).count() == 1
        # server without write config keeps the reference's read-only posture
        srv2 = RemoteReadServer(served_querier)
        srv2.start()
        try:
            req2 = urllib.request.Request(
                f"http://127.0.0.1:{srv2.port}/write", data=b"x", method="POST"
            )
            try:
                urllib.request.urlopen(req2)
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
        finally:
            srv2.stop()
    finally:
        srv.stop()


def test_query_range_result_order(spark):
    """Range results are ordered on the driver as Spark's ORDER BY
    labels, time would: an absent label (NULL) sorts first, and each
    label set's points come in time order whatever the collect order."""
    from agni_spark.protocol.server import eval_promql
    from agni_spark.querier import Querier

    dim = [(0, "up", "b"), (1, "up", None), (2, "up", "a")]
    samples = spark.createDataFrame(
        [(s, t, float(10 * s + t)) for t in (3, 1, 2) for s, _, _ in dim],
        "series_id long, ts_ms long, value double",
    )
    series = spark.createDataFrame(
        dim, "series_id long, metric string, pod string"
    )
    sl = spark.createDataFrame(
        [(s, n, v) for s, m, p in dim
         for n, v in (("__name__", m), ("pod", p)) if v is not None],
        "series_id long, name string, value string",
    )
    body = eval_promql(Querier(samples, series, sl), "up", 0, 10)
    got = [(r["metric"].get("pod"), r["values"]) for r in body["data"]["result"]]
    assert got == [
        (p, [[t / 1000.0, str(float(10 * s + t))] for t in (1, 2, 3)])
        for s, p in ((1, None), (2, "a"), (0, "b"))
    ]


def test_query_range_step_sliding(served_querier):
    import json
    import urllib.parse
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        # window 2s sliding by 1s over samples at 100,150,200,500ms
        qs = urllib.parse.urlencode(
            {"query": "sum_over_time(up[2s])", "start": "0", "end": "1",
             "step": "1"}
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{qs}"
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        by_series = {
            tuple(sorted(r["metric"].items())): r["values"]
            for r in body["data"]["result"]
        }
        # series up{job=api}: samples at 100(1.0) and 200(2.0) fall in
        # sliding windows starting -1000 and 0 -> two entries, sum 3.0
        api = [
            v for k, v in by_series.items() if ("job", "api") in k
        ][0]
        assert [x[1] for x in api] == ["3.0", "3.0"]
        assert [x[0] for x in api] == [-1.0, 0.0]
    finally:
        srv.stop()


def test_http_status_tsdb(served_querier):
    import json
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/status/tsdb"
        ) as resp:
            body = json.loads(resp.read())
        assert body["data"]["numSeries"] == 3
        pairs = {p["name"]: p["value"]
                 for p in body["data"]["seriesCountByLabelValuePair"]}
        assert pairs["__name__=up"] == 2 and pairs["job=api"] == 2
    finally:
        srv.stop()


def test_http_query_range_cross_metric_ratio(served_querier):
    """The ADVICE scenario end-to-end: a cross-metric ratio served over
    /api/v1/query_range must match on label sets (ignoring __name__),
    not silently return empty."""
    import json
    import urllib.parse
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        qs = urllib.parse.urlencode(
            {"query": "sum by (job) (sum_over_time(up[1s]))"
                      " / sum by (job) (sum_over_time(down[1s]))",
             "start": "0", "end": "1"}
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{qs}"
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        series = {
            tuple(sorted(r["metric"].items())): r["values"]
            for r in body["data"]["result"]
        }
        # up{api}=3 / down{api}=9; web has no 'down' twin -> dropped
        assert series == {(("job", "api"),): [[0.0, "0.333333"]]}
    finally:
        srv.stop()


def test_exposition_parse_golden(spark):
    import hashlib

    from agni_spark.protocol.exposition import parse_exposition

    text = [
        "# HELP http_requests_total Total requests.",
        "# TYPE http_requests_total counter",
        'http_requests_total{method="get",code="200"} 1027 1700000000123',
        'http_requests_total{method="post",code="200"} 3 1700000000123',
        "process_open_fds 7",
        'latency_bucket{le="0.5"} 4 1700000000123',
        'rq_nan NaN',
        'rq_inf{x="y"} +Inf',
        "",
    ]
    lines = spark.createDataFrame([(s,) for s in text], "line string")
    samples, series = parse_exposition(lines, default_ts_ms=42)
    s = {r.series_id: r for r in samples.collect()}
    lab = {r.series_id: dict(r.labels) for r in series.collect()}
    assert len(s) == 6 and len(lab) == 6

    # series id matches the remote-write receiver's python-side hash
    key = ",".join(
        f"{n}={v}"
        for n, v in sorted(
            [("__name__", "http_requests_total"), ("code", "200"),
             ("method", "get")]
        )
    )
    sid = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    assert sid in s and s[sid].value == 1027.0
    assert s[sid].ts_ms == 1700000000123
    assert lab[sid]["method"] == "get" and lab[sid]["__name__"] == (
        "http_requests_total"
    )

    fds_sid = int(
        hashlib.md5(b"__name__=process_open_fds").hexdigest()[:15], 16
    )
    assert s[fds_sid].ts_ms == 42  # default scrape time
    bucket = [r for r in lab.values() if r.get("le") == "0.5"]
    assert bucket and bucket[0]["__name__"] == "latency_bucket"
    import math

    vals = [r.value for r in s.values()]
    assert any(math.isnan(v) for v in vals)
    assert any(math.isinf(v) for v in vals)


def test_exposition_ingest_roundtrip(spark, tmp_path):
    from agni_spark.protocol.exposition import ingest_exposition
    from agni_spark.sources import layout

    scrape = tmp_path / "scrape.txt"
    scrape.write_text(
        'm{a="1"} 1.5 1000\n'
        'm{a="2"} 2.5 8000000\n'
        "# comment\n"
        'm{a="1"} 3.5 9000000\n'
    )
    store = str(tmp_path / "store")
    n = ingest_exposition(spark, str(scrape), store)
    assert n == 3
    assert layout.registry_block_ids(spark, store) == [0, 1]
    got = sorted(
        (r.ts_ms, r.value)
        for r in layout.read_samples(spark, store).collect()
    )
    assert got == [(1000, 1.5), (8000000, 2.5), (9000000, 3.5)]


def test_exposition_roundtrip_format_then_parse(spark):
    from agni_spark.protocol.exposition import (
        format_exposition,
        parse_exposition,
    )

    text = [
        'jobs_total{env="prod",job="api"} 12.5 1000',
        'jobs_total{env="dev",job="api"} 0.25 2000',
        "uptime_seconds 3.0 1000",
    ]
    lines = spark.createDataFrame([(s,) for s in text], "line string")
    samples, series = parse_exposition(lines)
    out = [r.line for r in format_exposition(samples, series).collect()]
    assert sorted(out) == sorted(text)


def test_http_federate_endpoint(served_querier):
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/federate?"
            "match%5B%5D=up%7Bjob%3D%22api%22%7D",
            timeout=60,
        ) as r:
            assert r.headers["Content-Type"].startswith("text/plain")
            body = r.read().decode()
        # latest sample of series 0 only, full label set, scrapeable
        assert body == 'up{env="prod",job="api"} 2.0 200\n'
        # no match[] -> 400
        import pytest as _pytest
        from urllib.error import HTTPError

        with _pytest.raises(HTTPError):
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/federate", timeout=60
            )
    finally:
        srv.stop()


def test_http_rules_endpoint(served_querier):
    import json
    import urllib.request

    from agni_spark.protocol.server import RemoteReadServer

    rules = [
        # series 0 has samples at ts 100 and 200 -> count >= 1 per 1s
        # step; for_ms=0 fires immediately
        {"name": "UpSeen", "expr": "count by (job) (event_up)", "for_ms": 0,
         "step_ms": 1000},
    ]
    # served_querier's metric label is 'up'/'down'; adjust expr to match
    rules[0]["expr"] = "count by (job) (up)"
    srv = RemoteReadServer(served_querier, alert_rules=rules)
    srv.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/rules", timeout=60
        ) as r:
            body = json.loads(r.read())
        rule = body["data"]["groups"][0]["rules"][0]
        assert rule["name"] == "UpSeen" and rule["state"] == "firing"
        jobs = {a["labels"]["job"] for a in rule["alerts"]}
        assert jobs == {"api", "web"}
        assert all(a["state"] == "firing" for a in rule["alerts"])
    finally:
        srv.stop()


# -- streamed remote read (STREAMED_XOR_CHUNKS) -------------------------------
def test_chunked_read_response_golden_decode():
    # Hand-assembled ChunkedReadResponse: one ChunkedSeries with one
    # label ("job","api") and one Chunk{min=100, max=200, type=XOR(1),
    # data=0xDEAD}, query_index=3 — bytes built from remote.proto field
    # numbers, independent of our encoder.
    label = bytes([0x0A, 0x03]) + b"job" + bytes([0x12, 0x03]) + b"api"
    chunk = (
        bytes([0x08, 100])          # min_time_ms = 100
        + bytes([0x10, 0xC8, 0x01])  # max_time_ms = 200
        + bytes([0x18, 0x01])        # type = XOR
        + bytes([0x22, 0x02, 0xDE, 0xAD])  # data
    )
    series = (
        bytes([0x0A, len(label)]) + label
        + bytes([0x12, len(chunk)]) + chunk
    )
    golden = bytes([0x0A, len(series)]) + series + bytes([0x10, 0x03])
    dec = pb.decode_chunked_read_response(golden)
    assert dec.query_index == 3
    [cs] = dec.chunked_series
    assert cs.labels == [("job", "api")]
    [ch] = cs.chunks
    assert (ch.min_time_ms, ch.max_time_ms, ch.type, ch.data) == (
        100, 200, 1, b"\xde\xad",
    )
    # our encoder reproduces the same bytes
    assert pb.encode_chunked_read_response(dec) == golden


def test_read_request_response_type_negotiation_bytes():
    # accepted_response_types encodes packed (field 2, LD) and decodes
    # both packed and unpacked forms
    req = pb.ReadRequest(
        [pb.Query(0, 1000)], accepted_response_types=[1, 0]
    )
    enc = pb.encode_read_request(req)
    assert bytes([0x12, 0x02, 0x01, 0x00]) in enc  # packed field 2
    dec = pb.decode_read_request(enc)
    assert dec.accepted_response_types == [1, 0]
    # unpacked form: two varint fields
    unpacked = enc.replace(
        bytes([0x12, 0x02, 0x01, 0x00]),
        bytes([0x10, 0x01, 0x10, 0x00]),
    )
    assert pb.decode_read_request(unpacked).accepted_response_types == [1, 0]


def test_chunked_frame_roundtrip_and_crc():
    from agni_spark.protocol import server as srv

    frames = [b"hello", b"", b"x" * 300]
    stream = b"".join(srv.write_chunked_frame(f) for f in frames)
    assert srv.read_chunked_frames(stream) == frames
    # corrupt one payload byte -> CRC failure
    bad = bytearray(stream)
    bad[6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        srv.read_chunked_frames(bytes(bad))


def test_negotiation_first_accepted_wins(served_querier):
    """codec.go NegotiateResponseType: the FIRST supported entry in
    accepted_response_types wins. A client listing SAMPLES before
    STREAMED_XOR_CHUNKS prefers the sampled body and must get it even
    though it also accepts the streamed one; empty list defaults to
    SAMPLES; unknown-first falls through to the first supported; a
    non-empty list with NO supported type is a protocol error (the
    upstream codec errors too — serving SAMPLES would hand the client
    a body it never agreed to parse)."""
    from agni_spark.protocol.server import (
        CONTENT_TYPE_SAMPLES, CONTENT_TYPE_STREAMED, handle_read_negotiated,
    )

    def negotiate(accepted):
        req = pb.ReadRequest(
            [pb.Query(0, 1000, [pb.LabelMatcher(0, "env", "prod")])],
            accepted_response_types=accepted,
        )
        body = snappy.compress(pb.encode_read_request(req))
        _, ctype = handle_read_negotiated(served_querier, body)
        return ctype

    assert negotiate(
        [pb.RESPONSE_SAMPLES, pb.RESPONSE_STREAMED_XOR_CHUNKS]
    ) == CONTENT_TYPE_SAMPLES
    assert negotiate(
        [pb.RESPONSE_STREAMED_XOR_CHUNKS, pb.RESPONSE_SAMPLES]
    ) == CONTENT_TYPE_STREAMED
    assert negotiate([]) == CONTENT_TYPE_SAMPLES
    # hypothetical future type (99) is skipped, first supported wins
    assert negotiate(
        [99, pb.RESPONSE_STREAMED_XOR_CHUNKS]
    ) == CONTENT_TYPE_STREAMED
    # ONLY unsupported types -> error (HTTP 400 at the handler)
    import pytest

    with pytest.raises(ValueError, match="accepted_response_types"):
        negotiate([99])


def test_http_streamed_read_end_to_end(served_querier):
    """Negotiated STREAMED_XOR_CHUNKS: frames decode back to the exact
    samples the sampled path serves, through the real XOR chunk
    decoder; the sampled path stays byte-compatible for clients that
    don't negotiate."""
    from agni_spark.protocol.server import (
        CONTENT_TYPE_STREAMED, RemoteReadServer, read_chunked_frames,
    )
    from agni_spark.sources.tsdb_format import decode_xor_chunk

    srv = RemoteReadServer(served_querier)
    srv.start()
    try:
        req = pb.ReadRequest(
            [pb.Query(0, 1000, [pb.LabelMatcher(0, "env", "prod")])],
            accepted_response_types=[pb.RESPONSE_STREAMED_XOR_CHUNKS],
        )
        body = snappy.compress(pb.encode_read_request(req))
        r = urllib.request.urlopen(
            urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/read", data=body, method="POST"
            ),
            timeout=120,
        )
        assert r.status == 200
        assert r.headers["Content-Type"] == CONTENT_TYPE_STREAMED
        got = {}
        frames = read_chunked_frames(r.read())
        assert len(frames) == 2  # one per matching series
        for f in frames:
            msg = pb.decode_chunked_read_response(snappy.decompress(f))
            assert msg.query_index == 0
            [cs] = msg.chunked_series
            pts = []
            for ch in cs.chunks:
                assert ch.type == 1  # XOR
                dec = decode_xor_chunk(ch.data)
                assert dec[0][0] == ch.min_time_ms
                assert dec[-1][0] == ch.max_time_ms
                pts.extend(dec)
            got[tuple(cs.labels)] = pts
        assert got[
            (("__name__", "up"), ("env", "prod"), ("job", "api"))
        ] == [(100, 1.0), (200, 2.0)]
        assert got[
            (("__name__", "up"), ("env", "prod"), ("job", "web"))
        ] == [(150, 5.0)]
    finally:
        srv.stop()


def test_serving_edge_job_budget(spark, tmp_path):
    """A remote read is ONE Spark job (the pruned sample scan) once the
    querier's driver postings exist; the first read also builds them
    from one collect of the series dims (at most 3 jobs in all). Range
    queries then read the same postings and the driver dim: `rate` is
    the scan + window (2 jobs), `sum by (rate)` adds the aggregation and
    the dim's broadcast (4)."""
    import json

    from agni_spark.protocol.server import (
        handle_query_range, handle_read_negotiated, read_chunked_frames,
    )
    from agni_spark.querier import querier_from_store
    from agni_spark.sources import layout

    store = str(tmp_path / "budget_store")
    series = [
        (sid, {"__name__": "http_requests_total", "job": job, "instance": f"i{sid}"})
        for sid, job in enumerate(["api", "api", "web", "db"])
    ]
    samples = spark.createDataFrame(
        [(sid, t * 60_000, float(t * (sid + 1))) for sid, _ in series for t in range(120)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, store)
    spark.createDataFrame(series, "series_id long, labels map<string,string>").write.parquet(
        f"{store}/series"
    )
    q = querier_from_store(spark, store)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def read(types):
        req = pb.ReadRequest(
            [pb.Query(0, 3_600_000, [pb.LabelMatcher(0, "job", "api"),
                                     pb.LabelMatcher(1, "instance", "i9")])],
            accepted_response_types=types,
        )
        return handle_read_negotiated(q, snappy.compress(pb.encode_read_request(req)))

    (body, _), n = jobs("budget-sampled", lambda: read([]))
    [result] = pb.decode_read_response(snappy.decompress(body)).results
    assert len(result) == 2 and n <= 3
    (body, _), n = jobs("budget-streamed", lambda: read([pb.RESPONSE_STREAMED_XOR_CHUNKS]))
    assert len(read_chunked_frames(body)) == 2 and n == 1
    (body, _), n = jobs("budget-sampled-warm", lambda: read([]))
    [result] = pb.decode_read_response(snappy.decompress(body)).results
    assert len(result) == 2 and n == 1
    params = {
        "query": ["sum by (job) (rate(http_requests_total[5m]))"],
        "start": ["0"], "end": ["7199"], "step": ["300"],
    }
    body, n = jobs("budget-range", lambda: handle_query_range(q, params))
    out = json.loads(body)
    assert out["status"] == "success" and len(out["data"]["result"]) == 3
    assert n <= 4
    params["query"] = ["rate(http_requests_total[5m])"]
    body, n = jobs("budget-rate", lambda: handle_query_range(q, params))
    assert len(json.loads(body)["data"]["result"]) == 4 and n <= 2


def test_remote_write_job_budget(spark, tmp_path):
    """A remote write into an existing store runs a handful of Spark
    jobs: Arrow-built batches, one append path and a registry commit
    that reads only the blocks the write touched."""
    from agni_spark.protocol.server import handle_write
    from agni_spark.sources import layout

    store = str(tmp_path / "write_budget_store")
    samples = spark.createDataFrame(
        [(sid, b * 7_200_000 + t * 60_000, 1.0)
         for sid in range(4) for b in range(6) for t in range(30)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, store)
    w = pb.WriteRequest([
        pb.TimeSeries(labels=[("__name__", "up"), ("i", str(i))],
                      samples=[(float(t), 7_200_000 + t * 1000) for t in range(100)])
        for i in range(20)
    ])
    body = snappy.compress(pb.encode_write_request(w))
    sc = spark.sparkContext
    sc.setJobGroup("budget-write", "budget-write")
    try:
        n = handle_write(spark, body, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("budget-write"))
    assert n == 2000 and jobs <= 8, jobs
    assert layout.registry_block_ids(spark, store) == [0, 1, 2, 3, 4, 5]


# -- driver-resident range queries -------------------------------------------
def _range_store(spark, path: str) -> None:
    """A 2 h, 60 s-scrape store shaped like the serving benchmark's:
    request counters (one series with a `pod` label, one with a 20 m
    gap), latency observations, CPU counters by env/mode, and memory
    gauges with a NaN sample."""
    from agni_spark.sources import layout

    inst = {"i1": ("api", "prod"), "i2": ("api", "staging"),
            "i3": ("web", "prod"), "i4": ("web", "staging")}
    series = []
    for i, (job, _) in inst.items():
        extra = {"pod": "p1"} if i == "i1" else {}
        series.append({"__name__": "http_requests_total", "job": job, "instance": i, **extra})
        series.append({"__name__": "http_request_duration_ms", "job": job, "instance": i})
        series.append({"__name__": "process_resident_memory_bytes", "job": job, "instance": i})
    for i, (_, env) in inst.items():
        for mode in ("user", "idle"):
            series.append({"__name__": "node_cpu_seconds_total", "env": env,
                           "mode": mode, "instance": i})
    rows = []
    for sid, labels in enumerate(series, start=1):
        name = labels["__name__"]
        for k in range(120):
            if name == "http_requests_total" and labels["instance"] == "i2" and 30 <= k < 50:
                continue
            if name == "http_request_duration_ms":
                v = float((k * 37 + sid * 11) % 500)
            elif name == "process_resident_memory_bytes":
                v = float("nan") if (sid, k) == (3, 10) else 1e6 + sid * 1000 + k
            else:
                v = float(k * sid)
            rows.append((sid, k * 60_000, v))
    layout.write_blocks(
        spark.createDataFrame(rows, "series_id long, ts_ms long, value double"), path)
    spark.createDataFrame(
        list(enumerate(series, start=1)), "series_id long, labels map<string,string>"
    ).write.parquet(f"{path}/series")


RANGE_QUERIES = [
    ('rate(http_requests_total{job="api"}[5m])', 300),
    ("sum by (job) (rate(http_requests_total[5m]))", 300),
    ("histogram_quantile(0.9, sum by (job, le) (rate(http_request_duration_ms_bucket[5m])))", 300),
    ('topk(2, rate(node_cpu_seconds_total{env="prod"}[5m]))', 300),
    ('avg_over_time(process_resident_memory_bytes{job="api"}[10m])', 300),
    ('sum by (env) (rate(node_cpu_seconds_total{mode="user"}[1h]))', 3600),
    ('rate(http_requests_total{job="web"}[5m] offset 10m)', 300),
    ('sum_over_time(http_requests_total{job="api"}[10m] @ 3600)', 300),
    ('absent_over_time(http_requests_total{job="api"}[10m])', 600),
    ("sum by (job) (rate(http_requests_total[5m])) / count by (job) (rate(process_resident_memory_bytes[5m]))", 300),
    ('sum by (job) (rate(http_requests_total[5m])) / sum by (job) (rate(http_request_duration_ms[5m]))', 300),
    ('rate(node_cpu_seconds_total{mode!="idle"}[5m])', 300),
    ('http_requests_total{pod=""}', 600),
    ("process_resident_memory_bytes", 600),
    ('max by (instance) (max_over_time(http_requests_total{instance=~"i[12]"}[10m]))', 600),
]


def test_range_queries_driver_postings_match_spark_path(spark, tmp_path, monkeypatch):
    """Range and instant queries compiled against the driver postings
    and dim (selector leaves as one pruned scan, labels from driver
    memory), with more ids than the IN-literal bound (broadcast id
    semi-join), and on the Spark path (series cap patched to 0) return
    byte-identical bodies, as do remote reads."""
    import json

    from agni_spark import querier as qmod
    from agni_spark.protocol.server import (
        handle_query, handle_query_range, handle_read_negotiated,
    )
    from agni_spark.querier import Querier, querier_from_store

    store = str(tmp_path / "range_store")
    _range_store(spark, store)
    instants = ['http_requests_total{job="api"}', "sum by (mode) (node_cpu_seconds_total)"]
    reads = [[pb.LabelMatcher(0, "__name__", "http_requests_total")],
             [pb.LabelMatcher(1, "mode", "idle"), pb.LabelMatcher(0, "env", "prod")]]

    def bodies(q):
        out = [handle_query_range(q, {"query": [e], "start": ["0"], "end": ["7199.999"],
                                      "step": [str(step)]})
               for e, step in RANGE_QUERIES]
        out += [handle_query(q, {"query": [e], "time": ["3000"]}) for e in instants]
        for ms in reads:
            req = pb.ReadRequest([pb.Query(0, 7_200_000, ms)])
            out.append(handle_read_negotiated(q, snappy.compress(pb.encode_read_request(req)))[0])
        return out

    def open_q():
        # label columns out of name order: the driver dim must keep them
        q = querier_from_store(spark, store)
        return Querier(q.samples, q.series.select(*reversed(q.series.columns)), q.series_labels)

    driver_q = open_q()
    driver = bodies(driver_q)
    assert isinstance(driver_q._postings, qmod._Postings) and driver_q._dim is not None
    for (e, _), body in zip(RANGE_QUERIES + [(e, 0) for e in instants], driver):
        doc = json.loads(body)
        assert doc["status"] == "success" and doc["data"]["result"], e
    monkeypatch.setattr(qmod, "MAX_IN_IDS", 1)
    assert bodies(open_q()) == driver
    monkeypatch.setattr(qmod, "MAX_DRIVER_SERIES", 0)
    spark_q = open_q()
    assert bodies(spark_q) == driver
    assert spark_q._postings is False


def test_vector_matching_null_label_columns(spark, tmp_path):
    """One-to-one, group_left, `and`, `unless` and `or` match pairs
    whose label columns are NULL on both sides: on a store's wide
    series dim (a column per label name of any metric) web's request
    and memory series both leave `pod`, `env` and `mode` NULL. Both
    rates are per-series slopes, sid/60 and 1/60 (same scrape times),
    so the ratio is the request series' id: 7 for i3, 10 for i4."""
    import json

    from agni_spark.protocol.server import handle_query_range
    from agni_spark.querier import querier_from_store

    store = str(tmp_path / "range_store")
    _range_store(spark, store)
    q = querier_from_store(spark, store)
    reqs = 'rate(http_requests_total{job="web"}[5m])'
    mem = 'rate(process_resident_memory_bytes{job="web"}[5m])'

    def result(e):
        doc = json.loads(handle_query_range(
            q, {"query": [e], "start": ["0"], "end": ["7199.999"], "step": ["300"]}
        ))
        assert doc["status"] == "success", doc
        return {
            tuple(sorted(r["metric"].items())): [float(v) for _, v in r["values"]]
            for r in doc["data"]["result"]
        }

    web = {i: (("instance", i), ("job", "web")) for i in ("i3", "i4")}
    for e in (f"{reqs} / {mem}", f"{reqs} / on (job, instance) group_left {mem}"):
        got = result(e)
        assert set(got) == set(web.values()), (e, got)
        assert len(got[web["i3"]]) == 24, e
        assert set(got[web["i3"]]) == {7.0} and set(got[web["i4"]]) == {10.0}, e
    # set ops keep the left side's samples under its matched label set
    left = {web[dict(m)["instance"]]: v for m, v in result(reqs).items()}
    assert result(f"{reqs} and {mem}") == left
    assert result(f"{reqs} or {mem}") == left
    assert result(f"{reqs} unless {mem}") == {}


def test_get_errors_are_typed(served_querier, monkeypatch):
    """GET answers 400 for bad input (a missing `query`, a non-numeric
    `start`, a selector that does not parse) and 500 for an engine
    fault."""
    import urllib.error
    import urllib.parse

    from agni_spark.protocol import server as srv_mod

    srv = srv_mod.RemoteReadServer(served_querier)
    srv.start()

    def status(path, **params):
        url = f"http://127.0.0.1:{srv.port}{path}?{urllib.parse.urlencode(params)}"
        try:
            with urllib.request.urlopen(url, timeout=120) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    try:
        assert status("/api/v1/query_range", start="0", end="1") == 400
        assert status("/api/v1/query_range", query="up", start="abc", end="1") == 400
        assert status("/api/v1/query", query="up") == 400
        assert status("/api/v1/series", **{"match[]": '{job="api"'}) == 400
        assert status("/api/v1/query_range", query="up", start="0", end="1") == 200

        def fault(*a, **k):
            raise RuntimeError("injected engine fault")

        monkeypatch.setattr(srv_mod, "eval_promql", fault)
        assert status("/api/v1/query_range", query="up", start="0", end="1") == 500
    finally:
        srv.stop()


def _encode_samples_per_sample(samples) -> bytes:
    """The per-sample Sample encoder `_encode_samples` replaced."""
    out = b""
    for value, t in samples:
        body = b"\x09" + struct.pack("<d", value) + b"\x10" + pb._uv(t)
        out += b"\x12" + bytes((len(body),)) + body
    return out


_timestamps = st.one_of(
    st.sampled_from([0, 1, -1, 127, 128, 2**63 - 1, -(2**63), 2**56, 2**49 - 1]),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
)


def _as_double(b: bytes) -> float:
    return struct.unpack("<d", b)[0]


_doubles = st.one_of(
    st.sampled_from([0.0, -0.0, float("nan"), float("inf"), float("-inf")]),
    st.floats(allow_nan=True, allow_infinity=True),
    st.binary(min_size=8, max_size=8).map(_as_double),  # NaN payloads too
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_doubles, _timestamps), max_size=40))
def test_sample_encoder_matches_per_sample_encoder(samples):
    assert pb._encode_samples(samples) == _encode_samples_per_sample(samples)
