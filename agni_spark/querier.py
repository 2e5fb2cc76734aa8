"""The query engine: matcher selection + time pruning + cross-block merge.

Reference lifecycle (SURVEY §3.1, agni querier.go): matchers -> postings
(inverted index) -> intersect -> per-block series sets -> k-way merge ->
time-clipped sample iterators. Here the whole pipeline is ONE Catalyst
plan:

    samples (huge fact, time-partitioned parquet)
      |> partition/row-group pruning on ts_ms          (P1, P7, P8)
      |> LEFT SEMI join w/ broadcast(matched series),
         matched in ONE pass over the postings         (P2-P6, A1, A2)
      |> ORDER BY series_id, ts_ms unless sort=False   (M1, M2, A3)

The serving paths (remote read, PromQL range and instant queries)
resolve matchers on the driver instead, like agni's synced index cache:
each Querier keeps its postings and its wide series dim in driver
memory, built once on first use; a selector is then ONE pruned scan
filtered to the matched ids (`select_ids`), and label joins read an
Arrow-built copy of the dim (`series_dim`) instead of the dim's parquet.

Scale notes (100 TB posture):
- `series_labels` is the dimension side (series count << sample count);
  matcher evaluation never touches the fact table.
- The matched-series set is broadcast into the semi-join, so the fact
  table is filtered scan-side with zero shuffle. For pathologically
  large matched sets pass broadcast_series=False and let AQE pick a
  shuffle join.
- Time predicates are plain `ts_ms` comparisons -> pushed to parquet
  (partition pruning + row-group min/max skipping replace the
  reference's block pruning querier.go:25-46 and chunk pruning
  querier.go:510-548).
- Driver postings are capped at MAX_DRIVER_SERIES series; a larger
  dimension resolves matchers with `select_series` and joins `series`.
- A scan filters at most MAX_IN_IDS ids with an SQL IN literal; more
  semi-join a broadcast id table, so no driver literal grows unbounded.
"""

from __future__ import annotations

import threading
from collections.abc import Iterable
from itertools import groupby

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agni_spark.matchers import Matcher

# The most series whose postings a Querier keeps in driver memory.
MAX_DRIVER_SERIES = 1_000_000
# The most series ids a scan filters with one SQL IN literal; more
# semi-join a broadcast Arrow-built id table instead.
MAX_IN_IDS = 2_000


def _label_rows(series: DataFrame) -> DataFrame:
    """(series_id, name, value): one row per label column of the wide
    `series` dim, `metric` named `__name__`. A NULL value is an absent
    label; a dim without label columns keeps one NULL row per series,
    so every series id appears."""
    pairs = [
        F.struct(
            F.lit("__name__" if c == "metric" else c).alias("name"),
            F.col(c).cast("string").alias("value"),
        )
        for c in series.columns
        if c != "series_id"
    ] or [F.struct(F.lit(None).cast("string").alias("name"),
                   F.lit(None).cast("string").alias("value"))]
    return series.select("series_id", F.inline(F.array(*pairs)))


def _by_series(rows: pa.Table) -> tuple[np.ndarray, pa.Table]:
    """Sorted distinct series ids of `_label_rows` output, and its
    present labels sorted by (series_id, name, value)."""
    ids = np.unique(rows["series_id"].to_numpy())
    rows = rows.filter(pc.is_valid(rows["value"])).sort_by(
        [("series_id", "ascending"), ("name", "ascending"), ("value", "ascending")]
    )
    return ids, rows


def _label_lists(rows: pa.Table, ids: np.ndarray) -> list[list[tuple[str, str]]]:
    """Each series' sorted (name, value) label list, for sorted `ids`,
    from `_by_series` rows."""
    sid = rows["series_id"].to_numpy()
    lo = np.searchsorted(sid, ids, "left")
    counts = np.searchsorted(sid, ids, "right") - lo
    ends = np.cumsum(counts)
    sub = rows.take(np.repeat(lo + counts - ends, counts) + np.arange(counts.sum()))
    pairs = list(zip(sub["name"].to_pylist(), sub["value"].to_pylist()))
    return [pairs[e - n:e] for e, n in zip(ends.tolist(), counts.tolist())]


def _wide_dim(out: pa.Table, ids: np.ndarray, cols: list[str]) -> pa.Table | None:
    """The wide series dim with label columns `cols`, rebuilt from its
    `_label_rows` output `out` (sorted distinct `ids`); None when a
    series id repeats or two columns share a label name."""
    names = ["__name__" if c == "metric" else c for c in cols]
    n = len(cols) or 1
    if out.num_rows != len(ids) * n or len(set(names)) < len(names):
        return None
    vals = out.sort_by([("series_id", "ascending"), ("name", "ascending")])["value"]
    rank = {name: j for j, name in enumerate(sorted(names))}
    return pa.table(
        [pa.array(ids, pa.int64())]
        + [vals.take(np.arange(rank[name], len(vals), n)) for name in names],
        names=["series_id", *cols],
    )


class _Postings:
    """Driver-resident inverted index of one Querier's series dims:
    label name -> distinct values -> series ids (from `series_labels`),
    plus every series' output label rows (from `series`) and, when its
    label columns `cols` are given, the wide dim itself (`dim`)."""

    def __init__(self, labels: pa.Table, out: pa.Table, cols: list[str] | None = None) -> None:
        self.ids, self.rows = _by_series(out)
        self.dim = None if cols is None else _wide_dim(out, self.ids, cols)
        labels = labels.filter(pc.is_valid(labels["value"]))
        # one value per (series, name): the pivot's max in select_series
        labels = labels.group_by(["series_id", "name"]).aggregate([("value", "max")])
        g = (
            labels.group_by(["name", "value_max"])
            .aggregate([("series_id", "list")])
            .sort_by([("name", "ascending"), ("value_max", "ascending")])
        )
        lists = g["series_id_list"].combine_chunks()
        counts = lists.value_lengths().to_numpy()
        flat = lists.flatten().to_numpy()
        values = g["value_max"].to_pylist()
        offs = np.concatenate([[0], np.cumsum(counts)])
        self.index: dict[str, tuple[list[str], np.ndarray, np.ndarray]] = {}
        i = 0
        for name, run in groupby(g["name"].to_pylist()):
            j = i + len(list(run))
            self.index[name] = (values[i:j], counts[i:j], flat[offs[i]:offs[j]])
            i = j

    def match(self, matchers: list[Matcher]) -> np.ndarray:
        """Sorted ids of the series every matcher accepts; an absent
        label passes iff the matcher accepts "" (select_series' rule)."""
        ids = self.ids
        empty = np.empty(0, np.int64)
        for m in matchers:
            values, counts, sids = self.index.get(m.name, ([], empty, empty))
            ok = np.fromiter(map(m.matches_str, values), bool, len(values))
            if m.matches_empty():
                ids = np.setdiff1d(ids, sids[np.repeat(~ok, counts)])
            else:
                ids = np.intersect1d(ids, sids[np.repeat(ok, counts)])
        return ids


class Querier:
    """Query surface over the TSDB-shaped tables.

    Parameters mirror the reference's DB (db.go:28-38): a samples fact
    table, a series registry, the exploded labels (postings) table, and
    optionally the block registry.

    Expected schemas (see agni_spark.datamodel):
      samples(series_id long, ts_ms long, value double)
      series(series_id long, ...label columns or map)
      series_labels(series_id long, name string, value string)
      blocks(ulid string, mint_ms long, maxt_ms long, ...)

    The serving paths resolve matchers from postings cached on the
    driver, once per Querier, together with a copy of the wide series
    dim (`_driver_postings`). That is valid because a Querier's dims
    are fixed when it is opened: `querier_from_store` lists the store's
    files at open, and a new store version is read through a new
    Querier (as `frontend.ResultsCache` keys its entries).
    """

    def __init__(
        self,
        samples: DataFrame,
        series: DataFrame,
        series_labels: DataFrame,
        blocks: DataFrame | None = None,
    ) -> None:
        self.samples = samples
        self.series = series
        self.series_labels = series_labels
        self.blocks = blocks
        # built on first use; False above MAX_DRIVER_SERIES. The lock
        # serializes the build across HTTP request threads.
        self._postings: _Postings | bool | None = None
        self._postings_lock = threading.Lock()
        # the driver dim as a DataFrame (None: join `series` itself)
        self._dim: DataFrame | None = None

    def _driver_postings(self) -> _Postings | None:
        """The driver postings, built on first use from ONE Arrow
        collect of `series_labels` and the series dim's label rows
        (reading `series` once, so a deduplicated dim shuffles once).
        The same rows rebuild the wide dim when its label columns are
        strings and its ids distinct; it becomes `_dim` through
        `createDataFrame(pa.Table)`, a local relation no later query
        reads from parquet. The collect stops at 2 rows per label
        column per allowed series; reaching that limit, or more than
        MAX_DRIVER_SERIES series, leaves this Querier on the Spark path
        for good."""
        with self._postings_lock:
            if self._postings is None:
                out = _label_rows(self.series)
                limit = MAX_DRIVER_SERIES * 2 * (len(self.series.columns) - 1 or 1)
                both = (
                    self.series_labels.select(
                        "series_id",
                        F.col("name").cast("string"),
                        F.col("value").cast("string"),
                        F.lit(True).alias("_postings"),
                    )
                    .unionByName(out.withColumn("_postings", F.lit(False)))
                    .limit(limit)
                    .toArrow()
                )
                self._postings = False
                if both.num_rows < limit:
                    post = both["_postings"]
                    types = dict(self.series.dtypes)
                    cols = [c for c in self.series.columns if c != "series_id"]
                    strings = types["series_id"] == "bigint" and all(
                        types[c] == "string" for c in cols
                    )
                    p = _Postings(
                        both.filter(post),
                        both.filter(pc.invert(post)),
                        cols if strings else None,
                    )
                    if len(p.ids) <= MAX_DRIVER_SERIES:
                        self._postings = p
                        if p.dim is not None:
                            self._dim = self.samples.sparkSession.createDataFrame(p.dim)
        return self._postings or None

    def _id_frame(self, ids: np.ndarray) -> DataFrame:
        """(series_id) of `ids`, as a local relation built from Arrow."""
        ids = pa.table({"series_id": pa.array(ids, pa.int64())})
        return self.samples.sparkSession.createDataFrame(ids)

    # -- matcher -> series, resolved on the driver (the serving paths) ----
    def match_series(
        self, matchers: Iterable[Matcher]
    ) -> tuple[np.ndarray, list[list[tuple[str, str]]]]:
        """Series matching `matchers`: sorted distinct ids, and each
        one's label list as sorted (name, value) pairs (`metric` as
        `__name__`, NULLs dropped). Same selection as `select_series`
        restricted to the series dim; resolved from the driver postings,
        or above MAX_DRIVER_SERIES by `select_series` semi-joined to
        `series` and collected as Arrow."""
        ms = [m.simplify() for m in matchers]
        p = self._driver_postings()
        if p is None:
            sel = self.series.join(self.select_series(ms), "series_id", "left_semi")
            ids, rows = _by_series(_label_rows(sel).toArrow())
        else:
            ids, rows = p.match(ms), p.rows
        return ids, _label_lists(rows, ids)

    def select_ids(
        self,
        ids: np.ndarray,
        mint_ms: int | None = None,
        maxt_ms: int | None = None,
        df: DataFrame | None = None,
    ) -> DataFrame:
        """The pruned scan: `df` — by default `select(mint_ms, maxt_ms,
        sort=False)`, time bounds pushed to parquet — restricted to the
        sorted series `ids`. Up to MAX_IN_IDS ids filter as one SQL IN
        list (`Column.isin` makes one Py4J call per id); more semi-join
        a broadcast Arrow-built id table."""
        if df is None:
            df = self.select(mint_ms=mint_ms, maxt_ms=maxt_ms, sort=False)
        if not len(ids):
            return df.where(F.lit(False))
        if len(ids) > MAX_IN_IDS:
            return df.join(F.broadcast(self._id_frame(ids)), "series_id", "left_semi")
        return df.where(F.expr(f"series_id IN ({','.join(map(str, ids.tolist()))})"))

    def select_matching(
        self,
        matchers: Iterable[Matcher],
        mint_ms: int | None = None,
        maxt_ms: int | None = None,
        df: DataFrame | None = None,
    ) -> DataFrame:
        """A selector leaf: `select_ids` of the series matching
        `matchers`, resolved from the driver postings. Above
        MAX_DRIVER_SERIES it is `select(matchers, sort=False)`, or `df`
        semi-joined to `select_series`."""
        ms = [m.simplify() for m in matchers]
        p = self._driver_postings()
        if p is not None:
            return self.select_ids(p.match(ms), mint_ms, maxt_ms, df)
        if df is None:
            return self.select(ms, mint_ms, maxt_ms, sort=False)
        return df.join(self.select_series(ms), "series_id", "left_semi")

    def series_ids(self, matchers: Iterable[Matcher]) -> DataFrame:
        """(series_id) of the series matching `matchers`: an Arrow-built
        local relation from the driver postings, or `select_series`
        above MAX_DRIVER_SERIES."""
        ms = [m.simplify() for m in matchers]
        p = self._driver_postings()
        return self.select_series(ms) if p is None else self._id_frame(p.match(ms))

    def series_dim(self, *cols: str) -> DataFrame:
        """(series_id, *cols) of the wide series dim, broadcast: the
        driver copy when there is one, else `series` itself."""
        self._driver_postings()
        dim = self.series if self._dim is None else self._dim
        return F.broadcast(dim.select("series_id", *cols))

    def driver_dim(self) -> pa.Table | None:
        """The wide series dim in driver memory, sorted by series_id;
        None when the Querier joins `series` instead."""
        p = self._driver_postings()
        return None if p is None else p.dim

    # -- matcher -> series (the postings tier) -----------------------------
    def select_series(
        self, matchers: Iterable[Matcher], broadcast_series: bool = True
    ) -> DataFrame:
        """Compile matchers into the set of matching series_ids.

        Equality/regex/prefix postings lookup: agni querier.go:236-283;
        intersection tree: vendor tsdb postings.go:168-233; absent-label
        deferral: querier.go:189-195,457-462. One pass over the
        postings: see matchers.py for the pivot + conjunction rule.
        """
        # literal-regex rewrite: =~"a|b" -> IN, =~"lit.*" -> prefix
        # (pushdown-capable predicates; rlike never pushes)
        ms = [m.simplify() for m in matchers]
        if not ms:
            out = self.series.select("series_id")
        else:
            names = sorted({m.name for m in ms})
            col = {n: f"_l{i}" for i, n in enumerate(names)}
            out = (
                self.series_labels.where(F.col("name").isin(names))
                .groupBy("series_id")
                .agg(
                    *[
                        F.max(F.when(F.col("name") == n, F.col("value"))).alias(c)
                        for n, c in col.items()
                    ]
                )
            )
            if all(m.matches_empty() for m in ms):
                out = self.series.select("series_id").join(out, "series_id", "left")
            # absent (NULL) -> matches_empty(), as for the left join
            pred = F.lit(True)
            for m in ms:
                v = F.col(col[m.name])
                pred = pred & F.when(v.isNull(), F.lit(m.matches_empty())).otherwise(
                    m.positive_condition(v)
                )
            out = out.where(pred).select("series_id")
        if broadcast_series:
            out = F.broadcast(out)
        return out

    # -- the main entry point: Select() (querier.go:75-89) -----------------
    def select(
        self,
        matchers: Iterable[Matcher] = (),
        mint_ms: int | None = None,
        maxt_ms: int | None = None,
        with_labels: bool = False,
        broadcast_series: bool = True,
        sort: bool = True,
    ) -> DataFrame:
        """Time-range + matcher selection over samples.

        Both time bounds are INCLUSIVE, matching the reference's
        per-sample clipping (querier.go:831-833: `t < mint` and
        `t > maxt` are rejected).
        Result is sorted (series_id, ts_ms) — the reference's output
        contract: series in label-set order (series_id is assigned in
        label-sorted order), samples in time order (querier.go:314-328).

        `sort=False` skips the global range-partition sort for
        consumers whose next step is a hash-partitioned window or
        aggregation on series_id anyway (the PromQL compute tier), or
        that sort on the driver (the serving edge's remote read) — at
        scale the output sort is a full extra shuffle.
        """
        matchers = list(matchers)
        df = self.samples
        # P1/P7/P8: plain comparisons -> partition pruning + row-group
        # skip. When samples carry the raw `_ts_ns` source column, the
        # bounds are ALSO stated against it (exact integer equivalence:
        # ts div 1e6 >= lo  <=>  ts >= lo*1e6;  ts div 1e6 <= hi  <=>
        # ts < (hi+1)*1e6) so the predicate reaches the parquet reader
        # as a pushed filter instead of a post-scan expression.
        raw_ns = "_ts_ns" in df.columns
        raw_ts = "_ts_raw" in df.columns

        def _raw_ts_lit(ms: int):
            # constant-folded to a plain timestamp literal -> pushable;
            # cast to the column's exact type (NTZ vs LTZ) to avoid
            # mixed-type comparison errors. Session tz is UTC (load()).
            return F.timestamp_millis(F.lit(ms)).cast(dict(df.dtypes)["_ts_raw"])

        def _raw_int_bound(lo_ms: int | None, hi_ms_excl: int | None):
            # Unit-agnostic bound on the raw int64 column, mirroring
            # ns_to_ms's magnitude dispatch (the driver has shipped
            # several timestamp physical types): an OR of per-unit
            # (range-gate AND bound) conjunctions — every leaf is
            # col <op> literal, so the whole predicate still reaches
            # the parquet reader as a pushed filter.
            c = F.col("_ts_ns")
            arms = []
            for gate_lo, gate_hi, mul in (
                (100_000_000_000_000_000, None, 1_000_000),  # nanos
                (100_000_000_000_000, 100_000_000_000_000_000, 1_000),
                (100_000_000_000, 100_000_000_000_000, 1),  # millis
                (None, 100_000_000_000, None),  # seconds
            ):
                gate = F.lit(True)
                if gate_lo is not None:
                    gate = gate & (c > F.lit(gate_lo))
                if gate_hi is not None:
                    gate = gate & (c <= F.lit(gate_hi))
                if mul is None:  # seconds: ms bounds floor-divide
                    b = F.lit(True)
                    if lo_ms is not None:
                        b = b & (c >= F.lit(lo_ms // 1000 + (1 if lo_ms % 1000 else 0)))
                    if hi_ms_excl is not None:
                        b = b & (c < F.lit((hi_ms_excl + 999) // 1000))
                else:
                    b = F.lit(True)
                    if lo_ms is not None:
                        b = b & (c >= F.lit(lo_ms * mul))
                    if hi_ms_excl is not None:
                        b = b & (c < F.lit(hi_ms_excl * mul))
                arms.append(gate & b)
            out = arms[0]
            for a in arms[1:]:
                out = out | a
            return out

        if raw_ns and (mint_ms is not None or maxt_ms is not None):
            df = df.where(
                _raw_int_bound(
                    mint_ms, (maxt_ms + 1) if maxt_ms is not None else None
                )
            )
        if mint_ms is not None:
            df = df.where(F.col("ts_ms") >= F.lit(mint_ms))
            if raw_ts:
                df = df.where(F.col("_ts_raw") >= _raw_ts_lit(mint_ms))
        if maxt_ms is not None:
            df = df.where(F.col("ts_ms") <= F.lit(maxt_ms))
            if raw_ts:
                df = df.where(F.col("_ts_raw") < _raw_ts_lit(maxt_ms + 1))
        if matchers:
            ids = self.select_series(matchers, broadcast_series=broadcast_series)
            df = df.join(ids, "series_id", "left_semi")
        if raw_ns or raw_ts:
            df = df.drop("_ts_ns", "_ts_raw")
        if with_labels:
            df = df.join(self.series, "series_id", "left")
        return df.orderBy("series_id", "ts_ms") if sort else df

    # -- label introspection (M4/M5, querier.go:48-73) ---------------------
    def label_values(
        self, name: str, matchers: Iterable[Matcher] = ()
    ) -> DataFrame:
        """Sorted distinct values of one label, optionally restricted to
        series matching `matchers` (LabelValuesFor — unimplemented in the
        reference, querier.go:71-73; implemented here as an extension)."""
        sl = self.series_labels.where(F.col("name") == name)
        matchers = list(matchers)
        if matchers:
            ids = self.select_series(matchers)
            sl = sl.join(ids, "series_id", "left_semi")
        return sl.select("value").distinct().orderBy("value")

    def label_names(self, matchers: Iterable[Matcher] = ()) -> DataFrame:
        """Sorted distinct label names (index LabelNames equivalent)."""
        sl = self.series_labels
        matchers = list(matchers)
        if matchers:
            ids = self.select_series(matchers)
            sl = sl.join(ids, "series_id", "left_semi")
        return sl.select("name").distinct().orderBy("name")

    def series_for(self, matchers: Iterable[Matcher]) -> DataFrame:
        """/api/v1/series equivalent: matching series with their labels,
        label-sorted (S6 series lookup, vendor index.go:779-847)."""
        ids = self.select_series(list(matchers))
        return self.series.join(ids, "series_id", "left_semi").orderBy("series_id")

    # -- tombstones (P9, querier.go:845-879) -------------------------------
    def apply_tombstones(self, df: DataFrame, tombstones: DataFrame) -> DataFrame:
        """Drop samples falling inside deleted intervals (both interval
        ends inclusive, vendor tombstones.go:158-165). The reference
        evaluates this at read time; on Spark a Delta DELETE at write
        time is strictly stronger — this is the read-time equivalent.

        tombstones(series_id long, mint_ms long, maxt_ms long) is tiny
        (~1% of series) -> broadcast anti range-join, no shuffle of the
        fact side."""
        t = F.broadcast(tombstones)
        cond = (
            (df["series_id"] == t["series_id"])
            & (df["ts_ms"] >= t["mint_ms"])
            & (df["ts_ms"] <= t["maxt_ms"])
        )
        return df.join(t, cond, "left_anti")


def validate_block_sequence(blocks: DataFrame) -> DataFrame:
    """Overlapping-block detection (S3, db.go:206-220): returns the
    offending pairs; empty result == valid. Self-join on interval
    overlap with ulid < ulid to dedup pairs."""
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ulid") < F.col("b.ulid"))
            & (F.col("a.mint_ms") < F.col("b.maxt_ms"))
            & (F.col("b.mint_ms") < F.col("a.maxt_ms")),
        )
        .select(
            F.col("a.ulid").alias("ulid_a"),
            F.col("b.ulid").alias("ulid_b"),
        )
        .orderBy("ulid_a", "ulid_b")
    )


def merge_on_read(samples: DataFrame) -> DataFrame:
    """Duplicate-sample resolution at read time: one value per
    (series_id, ts_ms). The reference's storage can hold the same
    timestamp in overlapping sources; TSDB keeps the LAST ingested
    (vendor tsdb mergedSeriesSet). Stores written through
    `layout.write_blocks(..., seq=)` / `stream_ship` carry an `_seq`
    ingest-sequence column, and the highest sequence wins — true
    last-ingested semantics (value is the deterministic tie-break
    within one sequence). Legacy stores without `_seq` fall back to
    max value. One shuffle on the natural key either way; at scale
    this folds into the same exchange as any downstream (series, time)
    aggregation."""
    if "_seq" in samples.columns:
        return samples.groupBy("series_id", "ts_ms").agg(
            F.max_by(
                "value", F.struct(F.col("_seq"), F.col("value"))
            ).alias("value")
        )
    return samples.groupBy("series_id", "ts_ms").agg(
        F.max("value").alias("value")
    )


def federated_querier(queriers: list[Querier], dedupe: bool = True) -> Querier:
    """Fan-in over N stores (the Thanos Store-API / agni multi-tenant
    read pattern: every Prometheus ships its own block store; queries
    see one logical TSDB). Samples/series/postings union lazily —
    Catalyst pushes matcher predicates and time bounds into EVERY
    store's scan independently, so federation adds no shuffle of its
    own; with `dedupe`, overlapping stores (HA pairs shipping the same
    samples) resolve per (series, ts) through merge_on_read's
    last-ingested-wins before use.

    Stores with and without `_seq` can mix: rows lacking a sequence
    union in as NULL, and NULLs lose to any real sequence under
    max_by's struct ordering — replicas that stamp sequences win over
    legacy writes, which is the conservative choice."""
    if not queriers:
        raise ValueError("federated_querier needs at least one store")
    samples = queriers[0].samples
    for q in queriers[1:]:
        samples = samples.unionByName(q.samples, allowMissingColumns=True)
    series = queriers[0].series
    for q in queriers[1:]:
        series = series.unionByName(q.series, allowMissingColumns=True)
    labels = queriers[0].series_labels
    for q in queriers[1:]:
        labels = labels.unionByName(q.series_labels)
    blocks = None
    if all(q.blocks is not None for q in queriers):
        blocks = queriers[0].blocks
        for q in queriers[1:]:
            blocks = blocks.unionByName(q.blocks, allowMissingColumns=True)
    if dedupe:
        samples = merge_on_read(samples)
    return Querier(samples, series.distinct(), labels.distinct(), blocks)


def querier_from_store(spark, path: str) -> Querier:
    """Open a self-describing store — one written by ANY ingest path
    that lands `data/` + a map-form `series/` dim (remote-write
    receiver, exposition shipper, rule materializer) — as a Querier.

    The label vocabulary is discovered once from the series dim
    (O(#distinct label names) driver work, never touches the fact
    table) and widened into label COLUMNS (`__name__` -> `metric`,
    the engine's series-dim convention); the postings table is the
    map exploded. Samples read through the registry-committed data
    dir with merge-on-read left to the caller's selects."""
    from agni_spark.sources import layout

    samples = layout.read_samples(spark, path)
    cols = ["series_id", "ts_ms", "value"] + (
        ["_seq"] if "_seq" in samples.columns else []
    )
    samples = samples.select(*cols)
    ser = spark.read.parquet(f"{path}/series").dropDuplicates(["series_id"])
    names = sorted(
        r.k
        for r in ser.select(
            F.explode(F.map_keys(F.col("labels"))).alias("k")
        ).distinct().collect()
    )
    wide = ser.select(
        "series_id",
        *[
            F.col("labels").getItem(k).alias(
                "metric" if k == "__name__" else k
            )
            for k in names
        ],
    )
    labels_long = ser.select(
        "series_id", F.explode(F.col("labels"))
    ).withColumnsRenamed({"key": "name"})
    return Querier(samples, wide, labels_long)


def ha_dedup(
    samples: DataFrame,
    series: DataFrame,
    replica_label: str = "pod",
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """HA-pair deduplication (the Cortex/Mimir distributor's replica
    election, batch form): series identical except for the REPLICA
    label are the same logical series scraped by redundant collectors;
    per (logical series, time window) exactly one replica's samples
    are kept. The elected replica is the lexicographically smallest
    replica value present in that window — a deterministic stand-in
    for the distributor's lease (which elects whoever wrote first;
    order of arrival doesn't exist in batch).

    Output: (series_id of the elected replica's series, ts_ms, value)
    — downstream queries see one series per HA pair per window.

    Spark shape: the logical-series key is a broadcast projection of
    the registry (replica column dropped); election is one min()
    window per (logical key, time bucket); the final semi-join keeps
    only elected (series, window) sample rows. Two small shuffles on
    the logical key; the samples fact table is never widened."""
    label_cols = [
        c for c in series.columns if c not in ("series_id", replica_label)
    ]
    key = F.concat_ws(
        ",", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in label_cols]
    )
    reg = F.broadcast(
        series.select(
            "series_id",
            key.alias("_lkey"),
            F.coalesce(F.col(replica_label), F.lit("")).alias("_replica"),
        )
    )
    tagged = samples.join(reg, "series_id").withColumn(
        "_w", (F.col("ts_ms") / F.lit(bucket_ms)).cast("long")
    )
    elected = (
        tagged.groupBy("_lkey", "_w")
        .agg(F.min("_replica").alias("_elected"))
    )
    return (
        tagged.join(elected, ["_lkey", "_w"])
        .where(F.col("_replica") == F.col("_elected"))
        .select("series_id", "ts_ms", "value")
    )
