"""Tests of the benchmark's own parts: generator determinism, the
known-answer checks, and span self-time arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH.parent))
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture(scope="module")
def ds():
    return gen.Dataset(7)


# -- generator -----------------------------------------------------------------
def test_same_seed_same_inputs(ds):
    again = gen.Dataset(7)
    assert np.array_equal(ds.ids, again.ids)
    assert np.array_equal(ds.ts, again.ts)
    assert np.array_equal(ds.values, again.values)
    a = ds.read_requests(np.random.default_rng(3), 8) + ds.promql_requests(np.random.default_rng(3), 6)
    b = again.read_requests(np.random.default_rng(3), 8) + again.promql_requests(np.random.default_rng(3), 6)
    assert a == b
    assert ds.write_batch(2) == again.write_batch(2)
    assert ds.ship_block(1) == again.ship_block(1)


def test_other_seed_same_shape_other_values(ds):
    other = gen.Dataset(8)
    assert len(other.labels) == len(ds.labels) == 1204
    assert other.ts.shape == ds.ts.shape
    assert not np.array_equal(other.values, ds.values)
    sizes = lambda d: [r["expect"]["series"] for r in d.read_requests(np.random.default_rng(1), 8)]  # noqa: E731
    assert sizes(other) == pytest.approx(sizes(ds), rel=0.1)


def test_read_expectation_matches_arrays(ds):
    ms = [("=", "__name__", "up"), ("=", "job", "db")]
    start, end = gen.T0_MS, gen.T0_MS + gen.HOUR_MS - 1
    exp = ds.read_expect(ms, start, end)
    assert exp["series"] == 33
    assert exp["samples"] == 33 * 60
    assert exp["sum"] == 33 * 60.0  # up == 1
    assert start <= exp["mint"] <= exp["maxt"] <= end


def test_absent_label_matcher():
    assert gen.label_matches({"job": "db"}, "=", "pod", "")
    assert not gen.label_matches({"pod": "x"}, "=", "pod", "")
    assert gen.label_matches({"le": "+Inf"}, "=~", "le", r"100|\+Inf")
    assert gen.label_matches({"mode": "user"}, "!~", "mode", "idle")


# -- known-answer checks -------------------------------------------------------
def _answer(ds, op) -> list[tuple[list, list]]:
    """The exact series (labels, [(t, v)]) a correct server returns."""
    out = []
    for s in ds.select(op["matchers"]):
        m = (ds.ts[s] >= op["start"]) & (ds.ts[s] <= op["end"])
        if m.any():
            pts = [(int(t), float(v)) for t, v in zip(ds.ts[s][m], ds.values[s][m])]
            out.append((sorted(ds.labels[s].items()), pts))
    return out


def _sampled_body(series) -> bytes:
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy

    ts = [pb.TimeSeries(labels, [(v, t) for t, v in pts]) for labels, pts in series]
    return snappy.compress(pb.encode_read_response(pb.ReadResponse([ts])))


def _streamed_body(series) -> bytes:
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import server
    from agni_spark.protocol import snappy_codec as snappy
    from agni_spark.sources import tsdb_format

    frames = []
    for labels, pts in series:
        chunks = [
            pb.Chunk(part[0][0], part[-1][0], tsdb_format.ENC_XOR, tsdb_format.encode_xor_chunk(part))
            for part in (pts[i : i + 120] for i in range(0, len(pts), 120))
        ]
        msg = pb.ChunkedReadResponse([pb.ChunkedSeries(labels, chunks)])
        frames.append(server.write_chunked_frame(snappy.compress(pb.encode_chunked_read_response(msg))))
    return b"".join(frames)


def _corrupt(series):
    labels, pts = series[-1]
    t, v = pts[len(pts) // 2]
    return series[:-1] + [(labels, pts[: len(pts) // 2] + [(t, v + 1.0)] + pts[len(pts) // 2 + 1 :])]


@pytest.mark.parametrize("streamed", [False, True])
def test_read_check_catches_one_wrong_sample(ds, streamed):
    op = ds.read_requests(np.random.default_rng(5), 1)[0]
    op["streamed"] = streamed
    series = _answer(ds, op)
    body = _streamed_body if streamed else _sampled_body
    assert run.check_read(op, body(series)) is None
    assert run.check_read(op, body(_corrupt(series))) is not None


def test_read_check_catches_a_series_outside_the_matchers(ds):
    op = ds.read_requests(np.random.default_rng(5), 1)[0]
    series = _answer(ds, op)
    labels, pts = series[0]
    stray = [(n, "other" if n == "job" else v) for n, v in labels]
    assert run.check_read(op, _sampled_body(series[1:] + [(stray, pts)])) is not None


def test_query_range_check_catches_one_wrong_point(ds):
    for op in ds.promql_requests(np.random.default_rng(5), 6):
        pts = op["expect"]["points"]
        n = op["expect"]["series"]
        # spread the expected points over n result series
        result = [{"metric": {"i": str(i)}, "values": []} for i in range(n)]
        for i, (t, v) in enumerate(pts):
            result[i % n]["values"].append([t, str(v)])
        doc = {"status": "success", "data": {"resultType": "matrix", "result": result}}
        assert run.check_query_range(op, json.dumps(doc).encode()) is None, op["query"]
        result[0]["values"][0][1] = str(float(result[0]["values"][0][1]) + 0.5)
        assert run.check_query_range(op, json.dumps(doc).encode()) is not None, op["query"]


def test_rate_expectation_is_the_slope(ds):
    s = ds.select([("=", "__name__", "http_requests_total")])[0]
    slope = ds.kinds[s][2]
    rates = ds._rates(s, gen.T0_MS, gen.T0_MS + 6 * gen.HOUR_MS - 1, 300_000)
    # every bucket after the first holds 5 one-minute deltas
    assert sorted(rates.items())[1][1] == pytest.approx(slope * 5 / 300)


def test_write_and_ship_checks(ds):
    _, exp = ds.write_batch(0)
    op = {"kind": "write", "expect": exp}
    assert run.check(op, 200, b"2000") is None
    assert run.check(op, 200, b"1999") is not None
    assert run.check(op, 400, b"") is not None


# -- spans ---------------------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    s = [
        ["server.request", 0, 100, None, 1, None],
        ["querier.select", 10, 40, 0, 1, None],
        ["spark.collect", 30, 60, 0, 1, None],  # overlaps its sibling
        ["spark.collect", 15, 20, 1, 1, None],
    ]
    assert spans.self_times(s) == [100 - 50, 30 - 5, 30, 5]
    assert spans.covered_ns(0, 100, [(90, 120), (-5, 5)]) == 15


def test_layer_self_times_sum_to_request_time():
    s = [
        ["server.request", 0, 1000, None, 1, None],
        ["server.evaluate_query", 100, 900, 0, 1, None],
        ["querier.select", 120, 200, 1, 1, None],
        ["spark.collect", 200, 800, 1, 1, 42],
        ["remote_pb.encode_read_response", 900, 950, 0, 1, 512],
    ]
    rep = spans.layer_report(s)
    assert sum(rep["layers"].values()) == pytest.approx(1000 / 1e6)
    assert rep["layers"]["spark"] == pytest.approx(600 / 1e6)
    assert rep["names"]["server.evaluate_query"]["self_ms"] == pytest.approx(120 / 1e6)
    assert rep["edges"]["server.evaluate_query>spark.collect"] == pytest.approx(600 / 1e6)
    assert rep["names"]["remote_pb.encode_read_response"]["value"] == 512


def test_tracer_records_nested_spans_only_inside_requests():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    tracer = spans.Tracer()
    tracer.wrap(mod, "inner", "querier.inner")
    tracer.wrap(mod, "outer", "server.outer", value=lambda out, args: out)
    assert mod.outer(1) == 4 and tracer.spans == []  # outside a request
    assert tracer.request("/read", False, mod.outer, 1) == 4 and tracer.spans == []  # untraced request
    assert tracer.request("/read", True, mod.outer, 1) == 4
    names = [(s[0], s[3], s[4], s[5]) for s in tracer.spans]
    assert names == [("server.request", None, 1, None), ("server.outer", 0, 1, 4), ("querier.inner", 1, 1, None)]
    rep = spans.layer_report(tracer.spans)
    total = rep["names"]["server.request"]["ms"]
    assert sum(rep["layers"].values()) == pytest.approx(total)


# -- process cleanup -----------------------------------------------------------
def test_reap_children_leaves_no_orphaned_grandchild():
    """A grandchild that outlives its parent (as the server's JVM and
    Spark workers can) is adopted, killed after the grace time and
    waited for."""
    import subprocess

    script = (
        "import subprocess, run\n"
        "run.adopt_orphans()\n"
        "p = subprocess.Popen(['sh', '-c', 'sleep 60 & echo $!'], stdout=subprocess.PIPE, text=True)\n"
        "grandchild = int(p.stdout.readline())\n"
        "p.wait()\n"
        "run.reap_children(0.2)\n"
        "print(grandchild, run.child_pids())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=BENCH, capture_output=True, text=True, timeout=30, check=True
    ).stdout.split(maxsplit=1)
    grandchild, rest = int(out[0]), out[1]
    assert rest.strip() == "[]"
    assert not Path(f"/proc/{grandchild}").exists()


def test_measured_takes_each_callers_first_requests():
    recs = [run.Record({"kind": "read"}, 200, b"", float(i), i % 2, False) for i in range(9)]
    assert [r.ms for r in run.measured(recs, (2, 3))] == [0.0, 2.0, 1.0, 3.0, 5.0]
