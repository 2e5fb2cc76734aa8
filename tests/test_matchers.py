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


@pytest.mark.parametrize(
    "ms",
    [
        [eq("job", "api"), eq("env", "prod")],
        [eq("job", "api"), eq("pod", "")],
        [neq("pod", ""), re_match("job", "(api|web).*")],
        [re_match("pod", "(pod-1)?"), neq("env", "dev")],
        [eq("pod", ""), neq("job", "api")],
        [eq("job", "web"), neq("zone", "eu")],
    ],
    ids=["eq+eq", "eq+absent", "present+re", "emptyre+neq", "all-empty",
         "unknown-label"],
)
def test_conjunction(querier, ms):
    got = {r.series_id for r in querier.select_series(ms).collect()}
    assert got == naive(ms)


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
