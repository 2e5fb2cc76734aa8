"""Matcher semantics: engine (semi/anti joins) vs the naive Prometheus
evaluator (labels/selector.go:21-108 semantics: absent label == "").

The hard cases per SURVEY §7: l="" and l!="v" match series LACKING l;
a regex matching "" must also match absent labels.
"""

from __future__ import annotations

import re

import pytest
import re as _re

from hypothesis import given, settings
from hypothesis import strategies as st

from agni_spark.matchers import (
    Matcher,
    anchor,
    eq,
    label_in,
    neq,
    prefix,
    re_match,
    re_no_match,
)
from agni_spark.querier import Querier

# (series_id, labels) — deliberately includes absent labels and values
# that are prefixes of each other.
SERIES = [
    (0, {"job": "api", "env": "prod", "pod": "pod-1"}),
    (1, {"job": "api", "env": "dev"}),
    (2, {"job": "web", "env": "prod", "pod": "pod-2"}),
    (3, {"job": "worker", "env": "dev", "pod": "pod-12"}),
    (4, {"job": "api-internal", "env": "prod"}),
    (5, {"job": "web"}),
]

MATCHERS = [
    eq("job", "api"),
    eq("pod", ""),  # absent
    eq("env", ""),
    neq("job", "api"),  # includes series lacking job (none here) + others
    neq("pod", "pod-1"),  # includes series lacking pod
    neq("pod", ""),  # pod PRESENT
    re_match("job", "api.*"),
    re_match("pod", "pod-[0-9]"),
    re_match("pod", "(pod-1)?"),  # matches "" -> absent qualifies
    re_no_match("pod", "pod-1"),
    re_no_match("job", ".*"),  # matches nothing (every job present & matches)
    prefix("job", "api"),
    prefix("pod", "pod-1"),  # pod-1 and pod-12
    label_in("job", ["api", "web"]),
    label_in("env", ["prod", ""]),  # "" in set -> absent env qualifies
]


def naive(matchers) -> set[int]:
    out = set()
    for sid, labels in SERIES:
        if all(m.matches_str(labels.get(m.name, "")) for m in matchers):
            out.add(sid)
    return out


@pytest.fixture(scope="module")
def querier(spark):
    series = spark.createDataFrame(
        [(sid,) for sid, _ in SERIES], "series_id long"
    )
    sl = spark.createDataFrame(
        [(sid, k, v) for sid, labels in SERIES for k, v in labels.items()],
        "series_id long, name string, value string",
    )
    samples = spark.createDataFrame(
        [(sid, 1000 * sid, float(sid)) for sid, _ in SERIES],
        "series_id long, ts_ms long, value double",
    )
    return Querier(samples, series, sl)


@pytest.mark.parametrize("m", MATCHERS, ids=lambda m: f"{m.name}{m.op}{m.value}")
def test_single_matcher(querier, m):
    got = {r.series_id for r in querier.select_series([m]).collect()}
    assert got == naive([m])


CONJUNCTIONS = [
    [eq("job", "api"), eq("env", "prod")],
    [eq("job", "api"), eq("pod", "")],
    [neq("pod", ""), re_match("job", "(api|web).*")],
    [re_match("pod", "(pod-1)?"), neq("env", "dev")],
    [eq("pod", ""), neq("job", "api")],
    [eq("job", "web"), neq("zone", "eu")],
]


@pytest.mark.parametrize(
    "ms",
    CONJUNCTIONS,
    ids=["eq+eq", "eq+absent", "present+re", "emptyre+neq", "all-empty",
         "unknown-label"],
)
def test_conjunction(querier, ms):
    got = {r.series_id for r in querier.select_series(ms).collect()}
    assert got == naive(ms)


def test_remote_read_driver_postings_match_spark_path(spark, tmp_path, monkeypatch):
    """Remote reads resolved from the driver postings and from
    `select_series` (series cap patched to 0) return byte-identical
    sampled and streamed payloads, holding the naive evaluator's series
    with every sample, duplicates from two appends and a NaN included,
    sorted by (ts, value)."""
    import math

    from agni_spark import querier as qmod
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy
    from agni_spark.protocol.server import handle_read_negotiated
    from agni_spark.querier import querier_from_store
    from agni_spark.sources import layout

    store = str(tmp_path / "store")
    first = [(sid, t * 1000, float("nan") if (sid, t) == (2, 3) else float(t * sid))
             for sid, _ in SERIES for t in range(6)]
    again = [(sid, t * 1000, -1.0) for sid, _ in SERIES for t in (1, 4)]
    schema = "series_id long, ts_ms long, value double"
    layout.write_blocks(spark.createDataFrame(first, schema), store)
    layout.write_blocks(spark.createDataFrame(again, schema), store, mode="append")
    spark.createDataFrame(SERIES, "series_id long, labels map<string,string>").write.parquet(
        f"{store}/series")
    points = {
        sid: sorted(((t, v) for s, t, v in first + again if s == sid),
                    key=lambda p: (p[0], math.isnan(p[1]), p[1]))
        for sid, _ in SERIES
    }
    by_labels = {tuple(sorted(labels.items())): sid for sid, labels in SERIES}

    def wire(m):
        if m.op == "=^":
            return pb.LabelMatcher(2, m.name, f"{m.value}.*")
        if m.op == "in":
            return pb.LabelMatcher(2, m.name, "|".join(m.value))
        return pb.LabelMatcher(["=", "!=", "=~", "!~"].index(m.op), m.name, m.value)

    sets = [[m] for m in MATCHERS] + CONJUNCTIONS + [
        [eq("zone", "eu")], [eq("zone", "")], [re_match("zone", ".*")],
        [neq("zone", "eu"), re_match("pod", "pod-1.*")],
    ]

    def payloads(q):
        out = []
        for ms in sets:
            for types in ([], [pb.RESPONSE_STREAMED_XOR_CHUNKS]):
                req = pb.ReadRequest([pb.Query(0, 10_000, [wire(m) for m in ms])],
                                     accepted_response_types=types)
                out.append(handle_read_negotiated(q, snappy.compress(pb.encode_read_request(req)))[0])
        return out

    driver = payloads(querier_from_store(spark, store))
    monkeypatch.setattr(qmod, "MAX_DRIVER_SERIES", 0)
    spark_path = querier_from_store(spark, store)
    assert payloads(spark_path) == driver
    assert spark_path._postings is False
    for ms, body in zip(sets, driver[::2]):
        [result] = pb.decode_read_response(snappy.decompress(body)).results
        got = {by_labels[tuple(ts.labels)]: [(t, repr(v)) for v, t in ts.samples]
               for ts in result}
        assert got == {sid: [(t, repr(v)) for t, v in points[sid]] for sid in naive(ms)}, ms


# -- pure-Python property tests (fast; no Spark) ---------------------------
label_values = st.sampled_from(["", "api", "web", "prod", "pod-1", "pod-12", "x"])


@given(v=label_values, target=label_values)
def test_eq_neq_complementary(v, target):
    assert eq("l", target).matches_str(v) != neq("l", target).matches_str(v)


@given(v=label_values, pat=st.sampled_from([".*", "api.*", "pod-[0-9]", "(pod-1)?", ""]))
def test_re_nre_complementary(v, pat):
    assert re_match("l", pat).matches_str(v) != re_no_match("l", pat).matches_str(v)


@given(v=label_values, pat=st.sampled_from([".*", "api.*", "pod-[0-9]+", "(a|b)?"]))
@settings(max_examples=50)
def test_anchoring_is_fullmatch(v, pat):
    # rlike(anchor(p)) must equal Python fullmatch(p) — the engine's JVM
    # regex and the oracle's RE2 agree on this common subset.
    assert (re.search(anchor(pat), v) is not None) == (
        re.fullmatch(pat, v) is not None
    )


def test_matches_empty():
    assert eq("l", "").matches_empty()
    assert not eq("l", "x").matches_empty()
    assert neq("l", "x").matches_empty()
    assert not neq("l", "").matches_empty()
    assert re_match("l", ".*").matches_empty()
    assert not re_match("l", ".+").matches_empty()
    assert re_no_match("l", ".+").matches_empty()
    assert prefix("l", "").matches_empty()
    assert label_in("l", ["", "a"]).matches_empty()


def test_unknown_op_rejected():
    with pytest.raises(ValueError):
        Matcher("~=", "l", "v")


@given(
    st.sampled_from(["=~", "!~"]),
    st.text(alphabet="ab-| .*", min_size=0, max_size=8),
    st.text(alphabet="ab-| .", min_size=0, max_size=6),
)
@settings(max_examples=200, deadline=None)
def test_simplify_preserves_semantics(op, pattern, value):
    try:
        m = Matcher(op, "l", pattern)
        orig = m.matches_str(value)
    except _re.error:
        return  # invalid regex: nothing to preserve
    s = m.simplify()
    assert s.matches_str(value) == orig
    assert s.matches_empty() == m.matches_empty()


def test_simplify_rewrites():
    assert Matcher("=~", "l", "api|web").simplify().op == "in"
    assert Matcher("=~", "l", "api").simplify().op == "="
    assert Matcher("=~", "l", "prod-.*").simplify().op == "=^"
    assert Matcher("!~", "l", "api").simplify().op == "!="
    # metacharacters -> untouched
    assert Matcher("=~", "l", "a.b").simplify().op == "=~"
    assert Matcher("=~", "l", "a+").simplify().op == "=~"
    # alternation matching "" is preserved through the IN rewrite
    m = Matcher("=~", "l", "a|").simplify()
    assert m.op == "in" and m.matches_empty()
