"""Label matcher algebra (reference: agni querier.go:184-283,
labels/selector.go:21-108, wire ops remote.proto:53-58).

Prometheus matcher semantics, the subtle part (SURVEY §2.2 P4/P6):
a matcher is evaluated against the series' value for the label, where
an ABSENT label reads as the empty string "". The TSDB index never
stores empty values (querier.go:189-195), so any matcher that matches
"" cannot be answered from the postings index alone — the reference
defers it and drops series post-fetch (querier.go:457-462).

Spark-first translation: the querier (`Querier.select_series`) pivots
the `series_labels(series_id, name, value)` rows of the matchers' label
names into one column per name, then evaluates each matcher's *value
condition* on that column, with an ABSENT label (NULL after the pivot)
reading as "": it passes exactly when the matcher accepts "". This one
rule yields correct semantics for l="" (absent), l!="v", l!~"re", and
regexes that match the empty string. Series carrying none of the names
can only match when every matcher accepts "", and only then does the
querier bring in the full series list.

A conjunction of matchers (tsdb.Intersect, postings.go:168-233) is the
AND of these conditions; regex/IN value expansion (tsdb.Merge,
postings.go:235-317) is subsumed by the OR inside one condition.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

# Matcher ops. '=' '!=' '=~' '!~' mirror remote.proto:53-58; '=^' is the
# internal PrefixMatcher (labels/selector.go:91-108); 'in' is the
# expanded-alternation form the reference reaches via regex value scans.
EQ = "="
NEQ = "!="
RE = "=~"
NRE = "!~"
PREFIX = "=^"
IN = "in"

_OPS = {EQ, NEQ, RE, NRE, PREFIX, IN}


@dataclass(frozen=True)
class Matcher:
    """One label matcher, e.g. Matcher('=', 'job', 'api')."""

    op: str
    name: str
    value: str | tuple[str, ...]

    def __post_init__(self) -> None:
        if self.op not in _OPS:
            raise ValueError(f"unknown matcher op {self.op!r}")
        if self.op == IN and not isinstance(self.value, tuple):
            object.__setattr__(self, "value", tuple(self.value))

    # -- semantics ---------------------------------------------------------
    def matches_empty(self) -> bool:
        """Would this matcher accept a series where the label is absent
        (i.e. value "")?  Mirrors labels/selector.go Matches("")."""
        if self.op == EQ:
            return self.value == ""
        if self.op == NEQ:
            return self.value != ""
        if self.op == RE:
            return _re.fullmatch(self.value, "") is not None
        if self.op == NRE:
            return _re.fullmatch(self.value, "") is None
        if self.op == PREFIX:
            return self.value == ""
        if self.op == IN:
            return "" in self.value
        raise AssertionError(self.op)

    def positive_condition(self, value_col: Column) -> Column:
        """Column condition: label PRESENT and its value matches the
        *positive* form of this matcher."""
        if self.op == EQ:
            return value_col == F.lit(self.value)
        if self.op == NEQ:
            return value_col != F.lit(self.value)
        if self.op == RE:
            return value_col.rlike(anchor(self.value))
        if self.op == NRE:
            return ~value_col.rlike(anchor(self.value))
        if self.op == PREFIX:
            return value_col.startswith(self.value)
        if self.op == IN:
            return value_col.isin(list(self.value))
        raise AssertionError(self.op)

    def simplify(self) -> "Matcher":
        """Logical rewrite (the optimization Prometheus' own engine and
        the reference's value-scan fast paths approximate): regexes that
        are really literals compile to predicates Catalyst can PUSH to
        the parquet scan, which `rlike` never is.

        - `=~ "a|b|c"` (pure literal alternation) -> IN ('a','b','c')
        - `=~ "a"`     (single literal)           -> equality
        - `=~ "lit.*"` (literal prefix)           -> prefix (StartsWith)
        - `!~ "a"`     (single literal)           -> not-equal
        Anything containing regex metacharacters is left untouched.
        Semantics are preserved exactly, including empty-string
        behavior (property-tested)."""
        if self.op == RE and isinstance(self.value, str):
            if _LITERAL_ALT.fullmatch(self.value):
                alts = tuple(self.value.split("|"))
                if len(alts) == 1:
                    return Matcher(EQ, self.name, alts[0])
                return Matcher(IN, self.name, alts)
            m = _re.fullmatch(r"([A-Za-z0-9_\-:/ ]+)\.\*", self.value)
            if m:
                return Matcher(PREFIX, self.name, m.group(1))
        if self.op == NRE and isinstance(self.value, str):
            if _LITERAL_ALT.fullmatch(self.value) and "|" not in self.value:
                return Matcher(NEQ, self.name, self.value)
        return self

    def matches_str(self, value: str) -> bool:
        """Pure-Python evaluation (the property-test oracle mirroring
        labels/selector.go:21-108)."""
        if self.op == EQ:
            return value == self.value
        if self.op == NEQ:
            return value != self.value
        if self.op == RE:
            return _re.fullmatch(self.value, value) is not None
        if self.op == NRE:
            return _re.fullmatch(self.value, value) is None
        if self.op == PREFIX:
            return value.startswith(self.value)
        if self.op == IN:
            return value in self.value
        raise AssertionError(self.op)


# literal-alternation alphabet: NO regex metacharacters ('.' excluded);
# '|' is permitted only as the alternation separator
_LITERAL_ALT = _re.compile(r"[A-Za-z0-9_\-:/ |]*")


def anchor(pattern: str) -> str:
    """Prometheus regex matchers are fully anchored
    (labels/selector.go:61-68 compiles "^(?:" + p + ")$")."""
    return f"^(?:{pattern})$"


# -- convenience constructors ---------------------------------------------
def eq(name: str, value: str) -> Matcher:
    return Matcher(EQ, name, value)


def neq(name: str, value: str) -> Matcher:
    return Matcher(NEQ, name, value)


def re_match(name: str, pattern: str) -> Matcher:
    return Matcher(RE, name, pattern)


def re_no_match(name: str, pattern: str) -> Matcher:
    return Matcher(NRE, name, pattern)


def prefix(name: str, value: str) -> Matcher:
    return Matcher(PREFIX, name, value)


def label_in(name: str, values) -> Matcher:
    return Matcher(IN, name, tuple(values))
