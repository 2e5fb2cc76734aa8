"""Query-frontend tier: split-by-interval + results cache for range
queries (the Cortex/Thanos/Mimir query-frontend, re-expressed on the
block-store commit idiom).

A /query_range over [mint, maxt) splits into day-aligned partial
queries. Each partial's RESULT lands in a parquet results cache keyed
by (canonical-expression hash, day) with a manifest-last commit — the
same crash-safe registry pattern as the block store and the stored ANN
indexes (agni shipper.go:252-325 marker-last ordering). A later query
overlapping the same expression recomputes ONLY the uncovered days and
serves the rest from the cache.

Correctness of the split: the engine's bucketed model keys every range
function's output by day `bucket_ms`. Each partial is evaluated with an
extra `lookback_ms` of input (Cortex's range-vector start adjustment)
and filtered to its own bucket. Day-split results EQUAL whole-range
results unconditionally for per-bucket window functions
(sum/avg/min/max/count_over_time — they never read across a boundary),
and for lag-based functions (increase/rate/delta) whenever inter-sample
gaps stay within `lookback_ms` — the engine's lag crosses arbitrary
gaps, so a series silent longer than the lookback would lose its
boundary delta (same caveat as Prometheus's own range-vector horizon).
Both cases are asserted in tests/test_frontend.py; the driver oracle
pins the unconditional case.

Scale: the cache stores aggregated results (thousands of rows/day, not
samples); the win is skipping the fact-table scan for cached days —
precisely the production value of a query frontend in front of a
100 TB store.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_MS = 86_400_000


def _expr_key(expr: str) -> str:
    """Canonical cache key: whitespace-normalized expression text,
    md5-hashed. The STORE VERSION is a separate `ver=` directory level
    above the key (not folded into the hash): any write that commits a
    new registry snapshot (backfill, HA replay, compaction rewrite —
    the normal TSDB write pattern) moves the cache root, so a day whose
    block set changed can never serve its stale pre-write result — and
    superseded versions stay enumerable for `vacuum()`, exactly like
    superseded block-store commits."""
    return hashlib.md5(" ".join(expr.split()).encode()).hexdigest()[:16]


class ResultsCache:
    """Split-by-interval range-query evaluator with a parquet results
    cache. `hits`/`misses` count cache-served vs computed days (the
    frontend's own observability — asserted in tests).

    `store_path` points at the block store the querier was opened from
    (`querier_from_store`): the cache key then carries the registry's
    committed version, so appending a block and reopening recomputes
    affected days instead of serving stale partials (asserted in
    tests/test_frontend.py). `version_token` pins an explicit version
    for queriers not backed by a registry store (e.g. raw parquet
    testdata, which the driver never mutates mid-round).

    Range bounds MUST be split-aligned: each cached partial is a whole
    split-interval bucket, so a non-aligned [mint, maxt) has no exact
    representation in the cache (Cortex's split-by-interval makes the
    same alignment demand of its step). Unaligned bounds raise rather
    than silently widening to bucket granularity."""

    def __init__(
        self,
        querier,
        path: str,
        lookback_ms: int = DAY_MS,
        split_ms: int = DAY_MS,
        store_path: str | None = None,
        version_token: str | None = None,
    ) -> None:
        self.querier = querier
        self.spark: SparkSession = querier.samples.sparkSession
        self.path = path.rstrip("/")
        self.lookback_ms = lookback_ms
        self.split_ms = split_ms
        self.store_path = store_path
        self.version_token = version_token
        self.hits = 0
        self.misses = 0
        # Resolve the store version ONCE, here, alongside the already-
        # opened querier. The querier's data-file listing was snapshot
        # when querier_from_store opened it; re-reading the registry per
        # query would let a block commit land between open and query, so
        # partials computed from pre-commit data would be keyed (and
        # later served) under the post-commit version — a TOCTOU stale-
        # cache hazard. Pinning at construction keeps key and data in
        # lockstep; reopening the store (new querier + new cache) is the
        # path that picks up new commits.
        self._version = self._resolve_store_version()

    def _resolve_store_version(self) -> str:
        """Version component of the cache key. Registry-backed stores
        report their latest committed snapshot version (O(#versions)
        metadata read, never the fact table); otherwise the pinned
        token; otherwise 'static' (immutable inputs)."""
        if self.store_path is not None:
            from agni_spark.sources import layout

            vs = layout.registry_versions(self.spark, self.store_path)
            return f"v{max(vs)}" if vs else "v0"
        if self.version_token is not None:
            return str(self.version_token)
        return "static"

    # -- manifest (registry-last commit, block-store idiom) ----------
    def _key_path(self, expr: str) -> str:
        """{path}/ver={version}/{exprhash}: version as a directory
        level, so superseded versions are enumerable for vacuum."""
        return f"{self.path}/ver={self._version}/{_expr_key(expr)}"

    def _manifest_path(self, base: str) -> str:
        return f"{base}/manifest"

    def _committed_days(self, base: str) -> set[int]:
        from agni_spark.sources.layout import _fs_exists

        manifest = self._manifest_path(base)
        if not _fs_exists(self.spark, manifest):
            return set()
        return {r.day for r in self.spark.read.parquet(manifest).collect()}

    def _commit_days(self, base: str, days: set[int]) -> None:
        self.spark.createDataFrame(
            [(int(d),) for d in sorted(days)], "day long"
        ).repartition(1).write.mode("overwrite").parquet(
            self._manifest_path(base)
        )

    def vacuum(self, all_other: bool = False) -> list[str]:
        """GC cached partials of SUPERSEDED store versions: every
        registry commit moves the live cache under a new `ver=` dir and
        strands the previous version's partials — harmless but
        unbounded on a long-lived store (one orphaned copy of every
        cached day per append). Deletes only `ver=` dirs STRICTLY
        OLDER than this cache's pinned version (registry snapshot
        versions are ordered): a stale cache instance — opened before
        a later registry commit — must never delete a NEWER
        concurrently-open cache's committed partials, so dirs it
        cannot prove superseded (newer, or not version-ordered) are
        left alone.

        TOKEN-VERSIONED caches (version_token / "static") have no
        order, so the default vacuum can never GC their superseded
        dirs — for those, `all_other=True` opts in to deleting EVERY
        ver= dir other than this cache's own. The caller asserts the
        safety condition the ordering otherwise proves: no concurrent
        cache instance pinned to a different token is still serving
        (the token owner knows its rotation schedule; the library
        cannot). The opt-in applies ONLY to unordered versions: on a
        registry-ordered cache ("v<int>") `all_other` is ignored, so a
        stale ordered instance can never delete a NEWER concurrently-
        open cache's partials no matter what flags it passes.

        Goes through the Hadoop FileSystem API (s3a-safe),
        O(#versions) listing, never touches live data. Returns the
        removed version dir names. The results-cache twin of
        layout.vacuum_store."""
        from agni_spark.sources.layout import _fs_delete, _hfs

        def _ord(v: str) -> int | None:
            # registry-backed versions are "v<int>"; anything else
            # (pinned tokens, "static") has no order -> never deleted
            # unless the caller opted into all_other
            if v.startswith("v") and v[1:].isdigit():
                return int(v[1:])
            return None

        mine = _ord(self._version)
        if mine is None and not all_other:
            return []
        fs, P = _hfs(self.spark, self.path)
        if not fs.exists(P(self.path)):
            return []
        removed = []
        for st in fs.listStatus(P(self.path)):
            name = st.getPath().getName()
            if not name.startswith("ver="):
                continue
            ver = name[len("ver="):]
            other = _ord(ver)
            drop = (
                (mine is not None and other is not None and other < mine)
                or (all_other and mine is None and ver != self._version)
            )
            if drop:
                _fs_delete(self.spark, f"{self.path}/{name}")
                removed.append(name)
        return sorted(removed)

    # -- evaluation ----------------------------------------------------
    def query_range(
        self, expr: str, mint_ms: int, maxt_ms: int
    ) -> DataFrame:
        """Evaluate `expr` over [mint_ms, maxt_ms): day-split, cached.
        Returns the union of cached + freshly-computed day partials,
        identical to evaluating the whole range at once. Bounds must be
        split-aligned (see class docstring)."""
        from agni_spark import promql_parser as pql
        from agni_spark.sources.layout import _fs_exists

        if mint_ms % self.split_ms or maxt_ms % self.split_ms:
            raise ValueError(
                f"query_range bounds must be multiples of split_ms="
                f"{self.split_ms} (got [{mint_ms}, {maxt_ms})): cached "
                "partials are whole split buckets"
            )
        base = self._key_path(expr)
        d0 = mint_ms // self.split_ms
        d1 = (maxt_ms + self.split_ms - 1) // self.split_ms
        wanted = set(range(d0, d1))
        have = self._committed_days(base)
        missing = sorted(wanted - have)
        self.hits += len(wanted & have)
        self.misses += len(missing)

        for d in missing:
            # evaluate the split with the lookback prepended (range
            # vectors read back across the split boundary), keep only
            # this split's bucket
            start = d * self.split_ms
            out = pql.query(
                self.querier,
                expr,
                mint_ms=start - self.lookback_ms,
                maxt_ms=(d + 1) * self.split_ms - 1,
            )
            if "bucket_ms" not in out.columns:
                raise ValueError(
                    "only bucketed (range-function / aggregated) "
                    "expressions are split-cacheable"
                )
            part = out.where(F.col("bucket_ms") == start)
            # overwrite the day's OWN partition directory: a crashed
            # earlier attempt's rows are replaced, not appended next to
            # (append would resurrect uncommitted orphans once the day
            # finally commits)
            part.write.mode("overwrite").parquet(
                f"{base}/data/day={d}"
            )
        if missing:
            # manifest rewrite LAST: a crashed partial write is never
            # served (and is overwritten by the next attempt's append
            # being filtered through the manifest)
            self._commit_days(base, have | set(missing))

        served = self._committed_days(base) & wanted
        if not _fs_exists(self.spark, f"{base}/data"):
            # no day of this expression was ever written: an empty
            # frame of the compiled schema
            out = pql.query(self.querier, expr, mint_ms=0, maxt_ms=0)
            return out.where(F.lit(False))
        data = self.spark.read.parquet(f"{base}/data")
        return data.where(F.col("day").isin(sorted(served))).drop("day")
