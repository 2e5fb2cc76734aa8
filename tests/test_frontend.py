"""Query-frontend results cache: split-by-interval correctness, cache
accounting, manifest-last crash safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agni_spark import datamodel as dm
from agni_spark import promql_parser as pql
from agni_spark.frontend import DAY_MS, ResultsCache
from agni_spark.querier import Querier

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def querier(spark):
    t = dm.derive_tsdb(spark, SF)
    return Querier(t.samples, t.series, t.series_labels, t.blocks)


def _dense_querier(spark):
    # 2 series, one sample every 6h across 6 days: every gap is within
    # the 1-day lookback, so even lag-based functions split exactly
    rows = [
        (sid, 19732 * DAY_MS + i * 21_600_000, float(i * (sid + 1)))
        for sid in (1, 2)
        for i in range(24)
    ]
    samples = spark.createDataFrame(
        rows, "series_id long, ts_ms long, value double"
    )
    series = spark.createDataFrame(
        [(1, "event_error", "api", "prod", "i1", None),
         (2, "event_error", "web", "prod", "i2", None)],
        "series_id long, metric string, job string, env string, "
        "instance string, pod string",
    )
    labels = series.selectExpr(
        "series_id", "'__name__' AS name", "metric AS value"
    )
    return Querier(samples, series, labels, None)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cache_accounting_and_equality(querier, tmp_path):
    fc = ResultsCache(querier, str(tmp_path / "cache"))
    expr = "sum by (job) (sum_over_time(event_error[1d]))"
    t0 = 19732 * DAY_MS
    fc.query_range(expr, t0, t0 + 4 * DAY_MS).count()
    assert (fc.hits, fc.misses) == (0, 4)
    out = fc.query_range(expr, t0, t0 + 10 * DAY_MS)
    assert (fc.hits, fc.misses) == (4, 10)  # 4 served, 6 new
    whole = pql.query(
        querier, expr, mint_ms=t0, maxt_ms=t0 + 10 * DAY_MS - 1
    )
    assert _rows(out) == _rows(whole)
    # a third identical query is all hits, no recompute
    fc.query_range(expr, t0, t0 + 10 * DAY_MS).count()
    assert (fc.hits, fc.misses) == (14, 10)


def test_split_equals_whole_for_lag_functions_when_dense(spark, tmp_path):
    q = _dense_querier(spark)
    fc = ResultsCache(q, str(tmp_path / "cache2"))
    expr = "sum by (job) (increase(event_error[1d]))"
    t0 = 19732 * DAY_MS
    got = fc.query_range(expr, t0, t0 + 6 * DAY_MS)
    whole = pql.query(q, expr, mint_ms=t0, maxt_ms=t0 + 6 * DAY_MS - 1)
    assert _rows(got) == _rows(whole) and got.count() > 0


def test_cold_miss_reads_no_missing_path(spark, tmp_path, monkeypatch):
    """A cold cache tests for its manifest and data dir before reading
    them: no read of a missing path fails (and is swallowed) on the
    way, and a real read error would propagate."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    real, missing = DataFrameReader.parquet, []

    def parquet(self, *paths, **kw):
        missing.extend(p for p in paths if not os.path.exists(p))
        if missing:
            raise FileNotFoundError(missing)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    q = _dense_querier(spark)
    fc = ResultsCache(q, str(tmp_path / "cold"))
    t0 = 19732 * DAY_MS
    got = fc.query_range("sum by (job) (sum_over_time(event_error[1d]))", t0, t0 + 2 * DAY_MS)
    assert (fc.hits, fc.misses) == (0, 2) and got.count() == 4
    assert missing == []


def test_uncommitted_partial_not_served(querier, tmp_path):
    fc = ResultsCache(querier, str(tmp_path / "cache3"))
    expr = "sum by (job) (sum_over_time(event_error[1d]))"
    t0 = 19732 * DAY_MS
    fc.query_range(expr, t0, t0 + 2 * DAY_MS).count()
    # simulate a crashed partial: data for day d lands, manifest stays
    orphan = fc.query_range(expr, t0, t0 + DAY_MS)
    orphan.write.mode("overwrite").parquet(
        f"{fc._key_path(expr)}/data/day=19999"
    )
    served = fc.query_range(expr, 19_999 * DAY_MS, 20_000 * DAY_MS)
    # the orphan day is not in the manifest: the recompute OVERWRITES
    # the crashed attempt's partition (for this future day: with
    # nothing), so the orphan rows never surface
    assert served.count() == 0


def test_unaligned_bounds_raise(querier, tmp_path):
    fc = ResultsCache(querier, str(tmp_path / "cache4"))
    expr = "sum by (job) (sum_over_time(event_error[1d]))"
    t0 = 19732 * DAY_MS
    with pytest.raises(ValueError, match="split_ms"):
        fc.query_range(expr, t0 + 1, t0 + 2 * DAY_MS)
    with pytest.raises(ValueError, match="split_ms"):
        fc.query_range(expr, t0, t0 + 2 * DAY_MS - 1)


def _store_with_series(spark, path, rows):
    from agni_spark.sources import layout

    samples = spark.createDataFrame(
        rows, "series_id long, ts_ms long, value double"
    )
    layout.write_blocks(samples, path, mode="append", seq=None)
    spark.createDataFrame(
        [(1, {"__name__": "event_error", "job": "api"}),
         (2, {"__name__": "event_error", "job": "web"})],
        "series_id long, labels map<string,string>",
    ).write.mode("overwrite").parquet(f"{path}/series")


def test_backfill_invalidates_cached_day(spark, tmp_path):
    """The round-5 stale-serving hazard: append a late block into an
    already-cached day — the registry version in the cache key forces
    a recompute; without it the old partial would serve forever."""
    from agni_spark.querier import querier_from_store

    store = str(tmp_path / "store")
    t0 = 19732 * DAY_MS
    rows = [
        (sid, t0 + d * DAY_MS + h * 21_600_000, 1.0)
        for sid in (1, 2)
        for d in range(3)
        for h in range(4)
    ]
    _store_with_series(spark, store, rows)
    expr = "sum by (job) (sum_over_time(event_error[1d]))"

    fc = ResultsCache(
        querier_from_store(spark, store),
        str(tmp_path / "cache5"),
        store_path=store,
    )
    before = fc.query_range(expr, t0, t0 + 3 * DAY_MS)
    b = {(r.job, r.bucket_ms): r.value for r in before.collect()}
    assert b[("api", t0)] == 4.0
    assert (fc.hits, fc.misses) == (0, 3)

    # backfill: 2 more samples for series 1 land in day 0 (a new block
    # commit -> registry version bumps)
    late = [(1, t0 + 1_000, 5.0), (1, t0 + 2_000, 5.0)]
    _store_with_series(spark, store, late)

    fc2 = ResultsCache(
        querier_from_store(spark, store),
        str(tmp_path / "cache5"),  # SAME cache dir
        store_path=store,
    )
    after = fc2.query_range(expr, t0, t0 + 3 * DAY_MS)
    a = {(r.job, r.bucket_ms): r.value for r in after.collect()}
    # recompute observed (all 3 days missed under the new version key)
    assert fc2.misses == 3 and fc2.hits == 0
    assert a[("api", t0)] == 14.0  # 4 originals + 2x5.0 backfilled
    assert a[("api", t0 + DAY_MS)] == 4.0

    # vacuum: the pre-backfill version's partials are stranded on disk;
    # vacuum removes exactly that ver= dir, keeps the live one, and the
    # cache still serves (all hits — manifests untouched)
    import os

    assert len(os.listdir(str(tmp_path / "cache5"))) == 2
    # a STALE instance (pinned to the pre-backfill version) must never
    # delete the newer live version's partials: vacuum removes only
    # versions strictly OLDER than its own pin
    assert fc.vacuum() == []
    assert len(os.listdir(str(tmp_path / "cache5"))) == 2
    removed = fc2.vacuum()
    assert len(removed) == 1 and removed[0].startswith("ver=")
    assert os.listdir(str(tmp_path / "cache5")) == [f"ver={fc2._version}"]
    again = fc2.query_range(expr, t0, t0 + 3 * DAY_MS)
    assert {(r.job, r.bucket_ms): r.value for r in again.collect()} == a
    assert fc2.misses == 3 and fc2.hits == 3
    # idempotent
    assert fc2.vacuum() == []


def test_version_pinned_at_construction(spark, tmp_path):
    """TOCTOU guard: the cache key's version is resolved ONCE alongside
    the querier it serves. A block commit landing AFTER the cache was
    constructed must not move the cache key mid-session — the querier's
    file listing is pinned at open, so partials computed from it must
    commit under the version it was opened at, not the registry's
    latest."""
    from agni_spark.querier import querier_from_store

    store = str(tmp_path / "store_pin")
    t0 = 19732 * DAY_MS
    rows = [
        (sid, t0 + d * DAY_MS + h * 21_600_000, 1.0)
        for sid in (1, 2)
        for d in range(2)
        for h in range(4)
    ]
    _store_with_series(spark, store, rows)
    expr = "sum by (job) (sum_over_time(event_error[1d]))"
    fc = ResultsCache(
        querier_from_store(spark, store),
        str(tmp_path / "cache6"),
        store_path=store,
    )
    v0 = fc._version
    fc.query_range(expr, t0, t0 + DAY_MS).count()
    # a block commit lands between construction and the next query
    # (append-only: the pinned querier's already-opened files survive)
    from agni_spark.sources import layout

    layout.write_blocks(
        spark.createDataFrame(
            [(1, t0 + 1_000, 5.0)],
            "series_id long, ts_ms long, value double",
        ),
        store,
        mode="append",
        seq=None,
    )
    fc.query_range(expr, t0 + DAY_MS, t0 + 2 * DAY_MS).count()
    # both partials live under the PINNED version, not the new one
    assert fc._version == v0
    assert fc._committed_days(fc._key_path(expr)) == {19732, 19733}
    # a reopened cache sees the new version and recomputes from scratch
    fc2 = ResultsCache(
        querier_from_store(spark, store),
        str(tmp_path / "cache6"),
        store_path=store,
    )
    assert fc2._version != v0
    fc2.query_range(expr, t0, t0 + 2 * DAY_MS).count()
    assert (fc2.hits, fc2.misses) == (0, 2)


def test_vacuum_all_other_guarded_to_unordered_versions(querier, tmp_path):
    """`vacuum(all_other=True)` is the TOKEN-versioned escape hatch; on
    a registry-ORDERED cache it must be a no-op beyond the default
    older-only rule — otherwise a stale ordered instance could delete a
    NEWER concurrently-open cache's committed partials, the exact data
    loss the ordering exists to prevent."""
    import os

    expr = "sum by (job) (sum_over_time(event_error[1d]))"
    t0 = 19732 * DAY_MS

    # token-versioned (unordered): all_other deletes every other dir
    root = str(tmp_path / "cache_tok")
    fc = ResultsCache(querier, root, version_token="tokA")
    fc.query_range(expr, t0, t0 + DAY_MS).count()
    os.makedirs(f"{root}/ver=tokB")
    os.makedirs(f"{root}/ver=v7")
    assert fc.vacuum() == []  # default never GCs unordered
    assert fc.vacuum(all_other=True) == ["ver=tokB", "ver=v7"]
    assert os.listdir(root) == ["ver=tokA"]

    # ordered ("v<int>"): all_other is IGNORED — newer dirs and
    # unordered dirs survive; only strictly-older dirs are removed
    root2 = str(tmp_path / "cache_ord")
    fc2 = ResultsCache(querier, root2, version_token="v3")
    fc2.query_range(expr, t0, t0 + DAY_MS).count()
    os.makedirs(f"{root2}/ver=v2")
    os.makedirs(f"{root2}/ver=v5")
    os.makedirs(f"{root2}/ver=tokX")
    assert fc2.vacuum(all_other=True) == ["ver=v2"]
    assert sorted(os.listdir(root2)) == ["ver=tokX", "ver=v3", "ver=v5"]
