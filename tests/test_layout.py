"""Block-store layout: partitioned write/read round-trip, registry
commit, partition pruning, compaction, retention."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from agni_spark.querier import validate_block_sequence
from agni_spark.sources import layout

BLOCK = 1000  # small block size for tests


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store"))
    samples = spark.createDataFrame(
        [(s, t, float(s * 100 + t)) for s in range(3) for t in range(0, 5000, 250)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path, block_ms=BLOCK)
    return path


def test_roundtrip_equality(spark, store):
    df = layout.read_samples(spark, store)
    assert df.count() == 60
    assert df.select("series_id", "ts_ms", "value").distinct().count() == 60


def test_registry_matches_data(spark, store):
    reg = layout.read_registry(spark, store).orderBy("block_id").collect()
    assert [r.block_id for r in reg] == [0, 1, 2, 3, 4]
    assert all(r.num_samples == 12 and r.num_series == 3 for r in reg)
    assert all(r.maxt_ms == r.mint_ms + BLOCK for r in reg)
    assert validate_block_sequence(layout.read_registry(spark, store)).count() == 0


def test_partition_pruning_in_plan(spark, store):
    df = layout.time_pruned(
        layout.read_samples(spark, store), 1000, 2999, block_ms=BLOCK
    )
    assert df.count() == 24  # blocks 1,2
    plan = df._jdf.queryExecution().executedPlan().toString()
    # only 2 of 5 partitions survive pruning
    assert "block_id" in plan


def test_files_sorted_within_partition(spark, store):
    # sortWithinPartitions(series_id, ts_ms) -> rows in file are ordered
    import pyarrow.parquet as pq

    f = glob.glob(os.path.join(store, "data", "block_id=0", "*.parquet"))[0]
    t = pq.read_table(f).to_pandas()
    assert list(t.sort_values(["series_id", "ts_ms"]).index) == list(t.index)


def test_compact_reduces_files(spark, store):
    layout.compact(spark, store, files_per_block=1)
    for d in glob.glob(os.path.join(store, "data", "block_id=*")):
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1
    assert layout.read_samples(spark, store).count() == 60


def test_compact_preserves_file_sort_order(spark, store):
    # full-store compact must keep every output file sorted by
    # (series_id, ts_ms) — the 'row groups = chunks' skipping property
    # (regression: a coalesce-after-sort concatenated partitions out of
    # order)
    import pyarrow.parquet as pq

    layout.compact(spark, store, files_per_block=1)
    for d in glob.glob(os.path.join(store, "data", "block_id=*")):
        for f in glob.glob(os.path.join(d, "*.parquet")):
            t = pq.read_table(f).to_pandas()
            assert list(t.sort_values(["series_id", "ts_ms"]).index) == list(
                t.index
            ), f


def test_retention_drops_old_blocks(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store2"))
    samples = spark.createDataFrame(
        [(1, t, 1.0) for t in range(0, 5000, 100)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path, block_ms=BLOCK)
    before = layout.registry_versions(spark, path)
    dropped = layout.drop_blocks_before(spark, path, cutoff_block_id=2)
    assert dropped == [0, 1]
    assert layout.read_samples(spark, path).agg(F.min("ts_ms")).first()[0] == 2000
    reg = layout.read_registry(spark, path)
    assert reg.agg(F.min("block_id")).first()[0] == 2
    # the retention commit lands its own history version, so a
    # version-keyed reader (ResultsCache) never sees pre-retention blocks
    after = layout.registry_versions(spark, path)
    assert after == before + [max(before) + 1]
    snap = layout.read_registry(spark, path, version=max(after))
    assert sorted(snap.collect()) == sorted(reg.collect())


def test_delete_samples_rewrites_only_hit_blocks(spark, tmp_path):
    from agni_spark.sources import layout

    # 4 blocks x 2 series
    rows = [
        (s, b * 7_200_000 + off, float(s * 100 + b))
        for s in (1, 2)
        for b in range(4)
        for off in (10, 20)
    ]
    samples = spark.createDataFrame(
        rows, "series_id long, ts_ms long, value double"
    )
    path = str(tmp_path / "store")
    layout.write_blocks(samples, path)
    # tombstone: series 1, interval covering block 1 only
    t = spark.createDataFrame(
        [(1, 7_200_000, 14_399_999)], "series_id long, mint_ms long, maxt_ms long"
    )
    rewritten = layout.delete_samples(spark, path, t)
    assert rewritten == [1]
    got = layout.read_samples(spark, path)
    assert got.count() == 14  # 16 - 2 deleted
    # series 2 in block 1 untouched; series 1 block 1 gone
    import pyspark.sql.functions as F
    b1 = got.where(F.col("block_id") == 1).select("series_id").distinct().collect()
    assert [r.series_id for r in b1] == [2]
    # registry recommitted with updated counts
    reg = {r.block_id: r.num_samples for r in layout.read_registry(spark, path).collect()}
    assert reg[1] == 2 and reg[0] == 4
    # a tombstone hitting nothing rewrites nothing
    t2 = spark.createDataFrame(
        [(9, 0, 1)], "series_id long, mint_ms long, maxt_ms long"
    )
    assert layout.delete_samples(spark, path, t2) == [0]  # block hit, no rows


def test_delete_samples_empties_fully_deleted_block(spark, tmp_path):
    """A hit block whose every sample is tombstoned loses its files and
    its registry row (the dynamic overwrite alone would leave both)."""
    path = str(tmp_path / "store")
    layout.write_blocks(spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (2, 7_200_010, 3.0)],
        "series_id long, ts_ms long, value double"), path)
    t = spark.createDataFrame([(1, 0, 100)], "series_id long, mint_ms long, maxt_ms long")
    assert layout.delete_samples(spark, path, t) == [0]
    assert layout.read_samples(spark, path).count() == 1
    assert layout.registry_block_ids(spark, path) == [1]
    assert not os.path.exists(os.path.join(path, "data", "block_id=0"))


def test_compact_bumps_levels_selectively(spark, tmp_path):
    from agni_spark.sources import layout

    samples = spark.createDataFrame(
        [(s, b * 7_200_000 + s, float(s)) for s in (1, 2, 3) for b in (0, 1)],
        "series_id long, ts_ms long, value double",
    )
    path = str(tmp_path / "store")
    layout.write_blocks(samples, path)
    levels0 = {r.block_id: r.compaction_level
               for r in layout.read_registry(spark, path).collect()}
    assert levels0 == {0: 1, 1: 1}
    layout.compact(spark, path, block_ids=[1])
    levels1 = {r.block_id: r.compaction_level
               for r in layout.read_registry(spark, path).collect()}
    # only the compacted block's level bumps; data is intact
    assert levels1 == {0: 1, 1: 2}
    assert layout.read_samples(spark, path).count() == 6
    # compacting again bumps further
    layout.compact(spark, path, block_ids=[1])
    levels2 = {r.block_id: r.compaction_level
               for r in layout.read_registry(spark, path).collect()}
    assert levels2 == {0: 1, 1: 3}


def test_repair_overlaps(spark, tmp_path):
    from agni_spark.sources import layout

    path = str(tmp_path / "store")
    # two writes land duplicate (series, ts) pairs with different values
    a = spark.createDataFrame(
        [(1, 1000, 1.0), (1, 7_300_000, 2.0)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(a, path)
    b = spark.createDataFrame(
        [(1, 1000, 5.0), (2, 2000, 9.0)],
        "series_id long, ts_ms long, value double",
    )
    b.withColumn("block_id", layout.block_id_col()).write.partitionBy(
        "block_id"
    ).mode("append").parquet(f"{path}/data")
    assert layout.read_samples(spark, path).count() == 4
    n = layout.repair_overlaps(spark, path)
    assert n == 3  # (1,1000) collision resolved to one row
    got = {
        (r.series_id, r.ts_ms): r.value
        for r in layout.read_samples(spark, path).collect()
    }
    assert got == {(1, 1000): 5.0, (1, 7_300_000): 2.0, (2, 2000): 9.0}
    # registry recommitted and non-overlapping
    from agni_spark.querier import validate_block_sequence

    reg = layout.read_registry(spark, path)
    assert validate_block_sequence(reg).count() == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _sample_streams(draw):
    n_series = draw(st.integers(1, 4))
    out = []
    for sid in range(n_series):
        n = draw(st.integers(1, 20))
        ts = draw(
            st.lists(st.integers(0, 40_000_000), min_size=n, max_size=n,
                     unique=True)
        )
        for t in ts:
            out.append((sid, t, float(draw(st.integers(-5, 5)))))
    return out


@settings(max_examples=10, deadline=None)
@given(_sample_streams())
def test_write_read_roundtrip_property(spark, tmp_path_factory, rows):
    """SURVEY §5.3: random sample streams -> block-store write -> read
    equals input exactly (replaces upstream tsdb's chunk codec
    round-trip tests at the storage layer)."""
    from agni_spark.sources import layout

    path = str(tmp_path_factory.mktemp("prop") / "store")
    df = spark.createDataFrame(
        rows, "series_id long, ts_ms long, value double"
    )
    layout.write_blocks(df, path)
    got = sorted(
        (r.series_id, r.ts_ms, r.value)
        for r in layout.read_samples(spark, path)
        .select("series_id", "ts_ms", "value")
        .collect()
    )
    assert got == sorted(rows)
    # registry invariants: counts match, blocks non-overlapping
    reg = layout.read_registry(spark, path)
    assert reg.agg({"num_samples": "sum"}).first()[0] == len(rows)
    from agni_spark.querier import validate_block_sequence

    assert validate_block_sequence(reg).count() == 0


def test_plan_compaction_exponential_windows(spark, tmp_path):
    path = str(tmp_path / "store_plan")
    samples = spark.createDataFrame(
        [(1, t, 1.0) for t in range(0, 6000, 100)],  # blocks 0..5
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path, block_ms=BLOCK)
    plans = layout.plan_compaction(spark, path, factor=3)
    assert plans == [[0, 1, 2], [3, 4, 5]]
    for group in plans:
        layout.compact(spark, path, block_ids=group)
    reg = {r.block_id: r.compaction_level
           for r in layout.read_registry(spark, path).collect()}
    assert reg == {b: 2 for b in range(6)}
    # level-2 window needs 9 blocks -> nothing eligible now
    assert layout.plan_compaction(spark, path, factor=3) == []
    assert layout.read_samples(spark, path).count() == 60


_MOCKFS_JAVA = """
import java.net.URI;
import org.apache.hadoop.fs.RawLocalFileSystem;

public class MockFs extends RawLocalFileSystem {
  @Override
  public URI getUri() { return URI.create("mockfs:///"); }
}
"""

_MOCKFS_LIFECYCLE = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
  .config("spark.ui.enabled", "false")
  .config("spark.driver.extraClassPath", {clsdir!r})
  .config("spark.hadoop.fs.mockfs.impl", "MockFs")
  .config("spark.sql.shuffle.partitions", "8")
  .getOrCreate())
from agni_spark.sources import layout
local = {local!r}
path = f"mockfs:{{local}}"
samples = spark.createDataFrame(
    [(s, t, float(s + t)) for s in range(4) for t in range(0, 4000, 100)],
    "series_id long, ts_ms long, value double")
layout.write_blocks(samples, path, block_ms=1000)
assert layout.registry_block_ids(spark, path) == [0, 1, 2, 3]
assert layout.read_samples(spark, path).count() == 160
tomb = spark.createDataFrame(
    [(1, 1000, 1999)], "series_id long, mint_ms long, maxt_ms long")
assert layout.delete_samples(spark, path, tomb, block_ms=1000) == [1]
assert layout.read_samples(spark, path).count() == 150
assert layout.drop_blocks_before(spark, path, 2) == [0, 1]
assert layout.registry_block_ids(spark, path) == [2, 3]
assert layout.read_samples(spark, path).count() == 80
assert not os.path.exists(os.path.join(local, "data", "block_id=0"))
print("MOCKFS_LIFECYCLE_OK")
"""


def test_lifecycle_non_local_scheme(tmp_path):
    """Object-store smoke (S1/S9): the whole store lifecycle —
    write_blocks -> read -> delete_samples -> drop_blocks_before —
    against a NON-file:// Hadoop scheme. `mockfs:` is a
    RawLocalFileSystem subclass whose getUri() claims the mockfs
    scheme, so every mutation must resolve the FileSystem from the
    path's scheme through the Hadoop API (layout._hfs); any os.*/
    shutil shortcut or hardcoded file:// assumption fails with
    "Wrong FS". This backs the s3a:// claim: s3a resolves through the
    identical code path (reference is S3-native, block.go:20-43,
    shipper.go:252-325). Runs in a subprocess because extraClassPath
    is fixed at JVM launch."""
    import shutil
    import subprocess
    import sys as _sys

    import pyspark

    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac in container")
    hadoop_jar = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )[0]
    clsdir = tmp_path / "cls"
    clsdir.mkdir()
    (clsdir / "MockFs.java").write_text(_MOCKFS_JAVA)
    subprocess.run(
        [javac, "-cp", hadoop_jar, "MockFs.java"], cwd=clsdir, check=True
    )
    local = tmp_path / "mockstore"
    script = _MOCKFS_LIFECYCLE.format(
        repo=str(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        clsdir=str(clsdir),
        local=str(local),
    )
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "MOCKFS_LIFECYCLE_OK" in proc.stdout


def test_merge_on_read_last_wins(spark, tmp_path):
    """Stores written with an ingest sequence resolve duplicate
    (series, ts) points LAST-INGESTED-WINS (TSDB mergedSeriesSet
    semantics), even when the later value is SMALLER — the case where
    the legacy max-value fallback would answer differently."""
    from agni_spark.querier import merge_on_read

    path = str(tmp_path / "store")
    first = spark.createDataFrame(
        [(1, 100, 50.0), (1, 200, 10.0), (2, 100, 7.0)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(first, path, block_ms=1000, seq=0)
    # re-ingest (1, 100) with a SMALLER value and (1, 300) as new data
    second = spark.createDataFrame(
        [(1, 100, 3.0), (1, 300, 1.0)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(second, path, block_ms=1000, mode="append", seq=1)

    got = {
        (r.series_id, r.ts_ms): r.value
        for r in merge_on_read(layout.read_samples(spark, path)).collect()
    }
    assert got == {
        (1, 100): 3.0,  # last-ingested, NOT max (50.0)
        (1, 200): 10.0,
        (1, 300): 1.0,
        (2, 100): 7.0,
    }
    # fallback without _seq keeps max value
    legacy = spark.createDataFrame(
        [(1, 100, 50.0), (1, 100, 3.0)],
        "series_id long, ts_ms long, value double",
    )
    assert merge_on_read(legacy).collect()[0].value == 50.0
    # repair keeps the sequence resolution: collapse the duplicates
    n = layout.repair_overlaps(spark, path, block_ms=1000)
    assert n == 4
    after = {
        (r.series_id, r.ts_ms): r.value
        for r in layout.read_samples(spark, path).collect()
    }
    assert after[(1, 100)] == 3.0


def test_registry_time_travel_snapshot(spark, tmp_path):
    path = str(tmp_path / "tt_store")
    s1 = spark.createDataFrame(
        [(s, t, 1.0) for s in range(2) for t in range(0, 2000, 250)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(s1, path, block_ms=BLOCK)  # version 0: blocks 0,1
    s2 = spark.createDataFrame(
        [(s, t, 2.0) for s in range(2) for t in range(2000, 4000, 250)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(s2, path, block_ms=BLOCK, mode="append")  # v1: 0-3

    assert layout.registry_versions(spark, path) == [0, 1]
    v0 = layout.read_registry(spark, path, version=0).orderBy("block_id").collect()
    assert [r.block_id for r in v0] == [0, 1]
    live = layout.read_registry(spark, path).orderBy("block_id").collect()
    assert [r.block_id for r in live] == [0, 1, 2, 3]

    # snapshot read sees only the first commit's data
    snap = layout.snapshot_samples(spark, path, version=0)
    assert snap.count() == 16
    assert snap.agg(F.max("ts_ms")).first()[0] == 1750
    assert layout.read_samples(spark, path).count() == 32


def test_downsample_routing_picks_coarsest_divisor(spark, tmp_path):
    from agni_spark.sources import downsample

    samples = spark.createDataFrame(
        [(0, t, float(t)) for t in range(0, 1200, 100)],
        "series_id long, ts_ms long, value double",
    )
    path = str(tmp_path / "ds")
    downsample.write_downsampled(samples, path, 100)
    downsample.write_downsampled(samples, path, 300)
    downsample.write_downsampled(samples, path, 400)
    assert downsample.resolutions(spark, path) == [100, 300, 400]
    assert downsample.route(spark, path, 600)[0] == 300  # 400 doesn't divide
    assert downsample.route(spark, path, 400)[0] == 400
    with pytest.raises(ValueError):
        downsample.route(spark, path, 250)

    out = {
        r.bucket_ms: (r.n, r.sum_value, r.min_value, r.max_value, r.avg_value)
        for r in downsample.agg_over_time_routed(spark, path, 600).collect()
    }
    # 0..500 and 600..1100: exact re-aggregation from 300ms partials
    assert out[0] == (6, 1500.0, 0.0, 500.0, 250.0)
    assert out[600] == (6, 5100.0, 600.0, 1100.0, 850.0)


def test_vacuum_removes_only_uncommitted_orphans(spark, tmp_path):
    path = str(tmp_path / "vac_store")
    samples = spark.createDataFrame(
        [(0, t, 1.0) for t in range(0, 2000, 250)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path, block_ms=BLOCK)
    # simulate a crashed write: a data partition that never got its
    # registry commit
    orphan = spark.createDataFrame(
        [(0, 9500, 7.0)], "series_id long, ts_ms long, value double"
    ).withColumn("block_id", F.lit(9).cast("long"))
    orphan.write.partitionBy("block_id").mode("append").parquet(
        f"{path}/data"
    )
    assert layout.registry_block_ids(spark, path) == [0, 1]
    # readers listing the whole dir would see the orphan; vacuum it
    assert layout.vacuum_store(spark, path) == [9]
    assert layout.read_samples(spark, path).count() == 8
    assert layout.registry_block_ids(spark, path) == [0, 1]
    assert layout.vacuum_store(spark, path) == []  # idempotent


def test_tenant_stores_isolated_and_federated(spark, tmp_path):
    root = str(tmp_path / "tenants")
    a = spark.createDataFrame(
        [(1, 100, 1.0), (1, 1100, 2.0)],
        "series_id long, ts_ms long, value double",
    )
    b = spark.createDataFrame(
        [(2, 100, 9.0)], "series_id long, ts_ms long, value double"
    )
    layout.write_tenant_blocks(a, root, "acme", block_ms=BLOCK)
    layout.write_tenant_blocks(b, root, "globex", block_ms=BLOCK)
    assert layout.tenants(spark, root) == ["acme", "globex"]
    # isolation: a tenant's store is its own registry-committed world
    assert layout.registry_block_ids(
        spark, layout.tenant_path(root, "acme")
    ) == [0, 1]
    assert layout.read_samples(
        spark, layout.tenant_path(root, "globex")
    ).count() == 1
    # cross-tenant admin read tags provenance
    x = layout.cross_tenant_samples(spark, root)
    assert x.count() == 3
    assert {r.tenant for r in x.collect()} == {"acme", "globex"}
    only = layout.cross_tenant_samples(spark, root, only=["acme"])
    assert only.count() == 2
    with pytest.raises(ValueError):
        layout.tenant_path(root, "../escape")


def test_audit_store_statuses(spark, tmp_path):
    path = str(tmp_path / "audit_store")
    samples = spark.createDataFrame(
        [(0, t, 1.0) for t in range(0, 2000, 250)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path, block_ms=BLOCK)
    ok = layout.audit_store(spark, path).collect()
    assert [r.status for r in ok] == ["ok", "ok"]

    # orphan partition -> 'uncommitted'
    spark.createDataFrame(
        [(0, 9500, 7.0)], "series_id long, ts_ms long, value double"
    ).withColumn("block_id", F.lit(9).cast("long")).write.partitionBy(
        "block_id"
    ).mode("append").parquet(f"{path}/data")
    got = {r.block_id: r.status for r in layout.audit_store(spark, path).collect()}
    assert got == {0: "ok", 1: "ok", 9: "uncommitted"}


def test_rollback_store_restores_snapshot(spark, tmp_path):
    path = str(tmp_path / "rb_store")
    s1 = spark.createDataFrame(
        [(0, t, 1.0) for t in range(0, 2000, 500)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(s1, path, block_ms=BLOCK)  # v0: blocks 0,1
    s2 = spark.createDataFrame(
        [(0, t, 2.0) for t in range(2000, 3000, 500)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(s2, path, block_ms=BLOCK, mode="append")  # v1: 0-2

    layout.rollback_store(spark, path, version=0)
    # live registry back to blocks 0,1; block 2's data is now an orphan
    assert layout.registry_block_ids(spark, path) == [0, 1]
    audit = {r.block_id: r.status for r in layout.audit_store(spark, path).collect()}
    assert audit == {0: "ok", 1: "ok", 2: "uncommitted"}
    assert layout.vacuum_store(spark, path) == [2]
    # rollback is itself a recorded history version
    assert layout.registry_versions(spark, path) == [0, 1, 2]
    with pytest.raises(ValueError, match="missing"):
        layout.rollback_store(spark, path, version=1)  # block 2 GC'd


def test_morton_col_interleaves_bits(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5)], "x long, y long"
    )
    out = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", layout.morton_col("x", "y", bits=4)
        ).collect()
    }
    # bit i of x -> position 2i, bit i of y -> 2i+1
    assert out[(0, 0)] == 0 and out[(1, 0)] == 1 and out[(0, 1)] == 2
    assert out[(1, 1)] == 3
    # x=3 (0b011) interleaved with y=5 (0b101): 0b100111 = 39
    assert out[(3, 5)] == 0b100111


def test_zorder_prunes_2d_rectangle(spark, tmp_path):
    # grid of (x, y) points; a balanced 2-D rectangle must touch far
    # fewer files under z-order clustering than under a linear x-sort
    # (which can only cluster one dimension)
    n, files = 128, 16
    pts = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    layout.zorder_write(pts, zpath, "x", "y", n_files=files, bits=8)
    (
        pts.repartitionByRange(files, "x", "y")
        .sortWithinPartitions("x", "y")
        .write.parquet(lpath)
    )

    def files_touched(path, cond):
        df = spark.read.parquet(path).where(cond)
        return df.select(F.input_file_name()).distinct().count()

    # the discriminating query is the one the linear sort CANNOT serve:
    # a slab on the SECOND dimension. Linear (x, y) order spreads every
    # y value across all files (16/16 touched); the z-curve confines a
    # 16/128 y-slab to a handful (4/16 measured at these sizes).
    y_slab = F.col("y").between(8, 23)
    zf, lf = files_touched(zpath, y_slab), files_touched(lpath, y_slab)
    assert zf * 2 <= lf, (zf, lf)
    assert lf == files  # linear layout cannot prune y at all
    # and on x-slabs the z layout stays within ~2x of the x-sort
    x_slab = F.col("x").between(8, 23)
    assert files_touched(zpath, x_slab) <= 2 * files_touched(lpath, x_slab)
    # layout is performance-only: the data itself is identical
    rect = x_slab & y_slab
    assert spark.read.parquet(zpath).where(rect).count() == 16 * 16


def test_append_keeps_compacted_levels(spark, tmp_path):
    """A compacted block keeps its registered level across later
    appends (write_blocks and the remote-write receiver), so
    plan_compaction does not plan it again; an overwrite restarts
    every block at `level`."""
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy
    from agni_spark.protocol.server import handle_write

    def levels():
        return {
            r.block_id: r.compaction_level
            for r in layout.read_registry(spark, path).collect()
        }

    path = str(tmp_path / "lv_store")
    samples = spark.createDataFrame(
        [(s, b * 7_200_000 + s, float(s)) for s in (1, 2) for b in (0, 1)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path)
    layout.compact(spark, path, block_ids=[1])
    assert levels() == {0: 1, 1: 2}

    more = spark.createDataFrame(
        [(3, 500, 3.0)], "series_id long, ts_ms long, value double"
    )
    layout.write_blocks(more, path, mode="append")
    assert levels() == {0: 1, 1: 2}
    w = pb.WriteRequest([pb.TimeSeries(labels=[("a", "b")], samples=[(1.0, 700)])])
    assert handle_write(spark, snappy.compress(pb.encode_write_request(w)), path) == 1
    assert levels() == {0: 1, 1: 2}
    assert layout.read_samples(spark, path).count() == 6

    layout.write_blocks(samples, path)
    assert levels() == {0: 1, 1: 1}


def test_compact_keeps_block_bounds_of_non_default_store(spark, tmp_path):
    path = str(tmp_path / "cb_store")
    samples = spark.createDataFrame(
        [(s, t, 1.0) for s in range(2) for t in range(0, 3000, 250)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(samples, path, block_ms=BLOCK)
    layout.compact(spark, path, block_ids=[1], block_ms=BLOCK)
    layout.compact(spark, path, block_ms=BLOCK)  # every registered block
    reg = layout.read_registry(spark, path).collect()
    assert sorted(r.block_id for r in reg) == [0, 1, 2]
    assert all(r.mint_ms == r.block_id * BLOCK for r in reg)
    assert all(r.maxt_ms == (r.block_id + 1) * BLOCK for r in reg)
    assert {r.block_id: r.compaction_level for r in reg} == {0: 2, 1: 3, 2: 2}


def test_append_after_rollback_keeps_orphans_unregistered(spark, tmp_path):
    """A commit registers only the blocks its own write touched: the
    partition a rollback dropped stays an orphan (for vacuum_store)
    instead of being adopted by the next append."""
    path = str(tmp_path / "orphan_store")
    s1 = spark.createDataFrame(
        [(0, t, 1.0) for t in range(0, 2000, 500)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(s1, path, block_ms=BLOCK)  # v0: blocks 0,1
    s2 = spark.createDataFrame(
        [(0, 2500, 2.0)], "series_id long, ts_ms long, value double"
    )
    layout.write_blocks(s2, path, block_ms=BLOCK, mode="append")  # v1: 0-2
    layout.rollback_store(spark, path, version=0)
    s3 = spark.createDataFrame(
        [(1, 700, 3.0)], "series_id long, ts_ms long, value double"
    )
    layout.write_blocks(s3, path, block_ms=BLOCK, mode="append")
    assert layout.registry_block_ids(spark, path) == [0, 1]
    audit = {r.block_id: r.status for r in layout.audit_store(spark, path).collect()}
    assert audit == {0: "ok", 1: "ok", 2: "uncommitted"}
    reg = {r.block_id: r.num_samples for r in layout.read_registry(spark, path).collect()}
    assert reg == {0: 3, 1: 2}


def test_incremental_commits_equal_full_rebuild(spark, tmp_path):
    """Every touched-block commit (append, remote write, exposition
    scrape, selective compaction, delete) leaves exactly the registry a
    full rebuild from the data dir computes."""
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy
    from agni_spark.protocol.exposition import ingest_exposition
    from agni_spark.protocol.server import handle_write

    H = 7_200_000
    path = str(tmp_path / "eq_store")

    def assert_equals_rebuild():
        cols = ["ulid", "block_id", "mint_ms", "maxt_ms", "num_samples",
                "num_series", "data_mint_ms", "data_maxt_ms"]
        full = layout._summarize(layout.read_samples(spark, path), H)
        reg = layout.read_registry(spark, path).select(*cols)
        assert sorted(reg.collect()) == sorted(full.select(*cols).collect())

    base = spark.createDataFrame(
        [(s, b * H + s * 10, float(s)) for s in range(3) for b in range(4)],
        "series_id long, ts_ms long, value double",
    )
    layout.write_blocks(base, path)
    more = spark.createDataFrame(
        [(7, H + 5, 1.0), (8, 5 * H + 1, 2.0)],
        "series_id long, ts_ms long, value double",
    )
    assert layout.write_blocks(more, path, mode="append") == 2
    assert_equals_rebuild()
    w = pb.WriteRequest([
        pb.TimeSeries(labels=[("__name__", "up"), ("job", "a")],
                      samples=[(1.0, 2 * H + 1), (2.0, 6 * H + 1)]),
    ])
    assert handle_write(spark, snappy.compress(pb.encode_write_request(w)), path) == 2
    assert_equals_rebuild()
    scrape = tmp_path / "scrape.txt"
    scrape.write_text(f'm{{a="1"}} 1.5 {3 * H + 7}\nm{{a="2"}} 2.5 {7 * H}\n')
    assert ingest_exposition(spark, str(scrape), path) == 2
    assert_equals_rebuild()
    layout.compact(spark, path, block_ids=[1, 6])
    assert_equals_rebuild()
    tomb = spark.createDataFrame(
        [(1, 0, 4 * H)], "series_id long, mint_ms long, maxt_ms long"
    )
    assert layout.delete_samples(spark, path, tomb) == [0, 1, 2, 3]
    assert_equals_rebuild()
    reg = {r.block_id: (r.num_samples, r.compaction_level) for r in
           layout.read_registry(spark, path).collect()}
    assert reg == {0: (2, 1), 1: (3, 2), 2: (3, 1), 3: (3, 1),
                   5: (1, 1), 6: (1, 2), 7: (1, 1)}


def test_concurrent_remote_writes_both_commit(spark, tmp_path):
    """Concurrent /write requests on one store (more threads than
    cores, fast thread switching): the store lock serializes them, so
    no commit drops another's block and every request lands."""
    import sys
    import threading

    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy
    from agni_spark.protocol.server import handle_write

    H = 7_200_000
    path = str(tmp_path / "conc_store")
    base = spark.createDataFrame(
        [(1, 10, 1.0)], "series_id long, ts_ms long, value double"
    )
    layout.write_blocks(base, path)
    before = layout.registry_versions(spark, path)
    blocks = [2, 3, 5, 7, 11, 13]

    def body(block):
        w = pb.WriteRequest([pb.TimeSeries(
            labels=[("__name__", "up"), ("b", str(block))],
            samples=[(float(i), block * H + i) for i in range(50)],
        )])
        return snappy.compress(pb.encode_write_request(w))

    errors, out = [], []

    def write(block):
        try:
            out.append(handle_write(spark, body(block), path))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=write, args=(b,)) for b in blocks]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors and out == [50] * len(blocks)
    assert layout.registry_block_ids(spark, path) == [0, *blocks]
    assert layout.registry_versions(spark, path) == before + [
        max(before) + i for i in range(1, len(blocks) + 1)
    ]
    assert layout.read_samples(spark, path).count() == 1 + 50 * len(blocks)
