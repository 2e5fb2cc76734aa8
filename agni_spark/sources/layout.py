"""Physical storage layout: TSDB blocks as time-partitioned Parquet.

Reference mapping (SURVEY §1.4, §3.2-3.3):
- block (2h ULID dir of index+chunks+meta)  -> `block_id=<n>` partition
  of a parquet table, block_id = ts_ms div block_ms (vendor tsdb
  db.go:49: 2h base range)
- chunk (<=120-sample compressed column)    -> parquet row group; files
  are sorted by (series_id, ts_ms) so row-group min/max stats give the
  same chunk-level time pruning as ChunkMeta (agni querier.go:510-548)
- meta.json + S3 marker key commit protocol (shipper.go:252-325,
  marker-last ordering) -> the partition write is made visible by
  committing its row to the block REGISTRY parquet last; readers list
  the registry, not the data dir (db.go:72 lists markers, not data).
  As in the shipper, a commit costs what the write touched: only its
  blocks are re-summarized into the live registry. Partitions no commit
  registered (crashed-write debris, blocks a rollback dropped) stay
  orphans until `vacuum_store`; a later commit never adopts them
- block discovery loop (db.go:62-122)       -> re-read the registry
- overlap validation (db.go:206-220)        -> querier.validate_block_sequence
- level-1 ship filter (shipper.go:22-44)    -> `level` column filter

Scale: partitioning on block_id gives partition pruning for time
predicates; sortWithinPartitions(series_id, ts_ms) gives row-group
skipping within a block for series-selective queries. At 100 TB,
`block_ms` stays 2h (fixed partition count per day) and files per
partition scale with cluster width; compaction (below) keeps file
counts bounded — exactly the reference's compaction tiers, expressed
as a rewrite."""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agni_spark.datamodel import BLOCK_MS


def block_id_col(block_ms: int = BLOCK_MS):
    return F.expr(f"CAST(ts_ms div {block_ms} AS BIGINT)")


# ---------------------------------------------------------------------------
# filesystem abstraction: all store mutation goes through the Hadoop
# FileSystem API so the SAME code runs against file://, hdfs:// and
# s3a:// (the reference is S3-native end-to-end — block.go:20-43,
# shipper.go:252-325; a driver-side os.listdir/shutil lifecycle would
# not). Listing for discovery still never touches the data dir: readers
# enumerate blocks from the REGISTRY (db.go:72 lists marker keys).
# ---------------------------------------------------------------------------
def _hfs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for `path`'s scheme."""
    jvm = spark.sparkContext._jvm
    jpath_cls = jvm.org.apache.hadoop.fs.Path
    fs = jpath_cls(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath_cls


def _fs_delete(spark: SparkSession, path: str) -> bool:
    fs, P = _hfs(spark, path)
    return fs.delete(P(path), True)


def _fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, P = _hfs(spark, src)
    return fs.rename(P(src), P(dst))


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, P = _hfs(spark, path)
    return fs.exists(P(path))


def _partition_values(spark: SparkSession, path: str, key: str) -> list[str]:
    """Values of the `key=<value>` directories directly under `path`
    (one FS listing, no Spark job); [] when `path` does not exist."""
    fs, P = _hfs(spark, path)
    if not fs.exists(P(path)):
        return []
    prefix = f"{key}="
    names = (st.getPath().getName() for st in fs.listStatus(P(path)))
    return [n[len(prefix):] for n in names if n.startswith(prefix)]


def registry_block_ids(spark: SparkSession, path: str) -> list[int]:
    """Committed block ids per the registry — the discovery surface
    (S2). Never lists the data directory."""
    return sorted(
        r.block_id for r in read_registry(spark, path).select("block_id").collect()
    )


# Store files compress with zstd: ~30% smaller than snappy at
# comparable scan speed — at 100 TB that's tens of TB of object-store
# footprint and proportional scan I/O. (Gorilla/XOR plays this role in
# the reference's chunk format; parquet encodings + zstd play it here.)
STORE_COMPRESSION = "zstd"


def write_blocks(
    samples: DataFrame,
    path: str,
    block_ms: int = BLOCK_MS,
    mode: str = "overwrite",
    level: int = 1,
    seq: int | None = None,
    series: DataFrame | None = None,
) -> int:
    """Shipper-equivalent sink (S9) and the one append path of every
    ingest: `series` dim rows first (when given), then the samples
    time-partitioned, then the registry commit LAST — the marker-key
    protocol. Files are sorted by (series_id, ts_ms): parquet row
    groups become the 'chunks'. Returns the number of samples written.
    The write job observes the block ids it lands (no extra pass), so
    an append commits only those blocks; an overwrite rebuilds the
    registry with every block at `level`. The store lock spans all
    three writes: concurrent Spark appends into one directory share
    its `_temporary` staging dir and fail or lose files.

    `seq` stamps an `_seq` ingest-sequence column (monotone per
    append) so `querier.merge_on_read` can resolve duplicate
    (series, ts) points LAST-INGESTED-WINS, matching TSDB's
    mergedSeriesSet. A pre-existing `_seq` column is carried through
    unchanged. Write a store consistently with or without seq —
    parquet schema inference across mixed partitions would drop the
    column silently."""
    if seq is not None and "_seq" not in samples.columns:
        samples = samples.withColumn("_seq", F.lit(int(seq)).cast("long"))
    obs = Observation()
    with _store_lock(path):
        if series is not None:
            series.write.mode(mode).option("compression", STORE_COMPRESSION).parquet(
                f"{path}/series")
        (
            samples.withColumn("block_id", block_id_col(block_ms))
            .observe(obs, F.collect_set("block_id").alias("blocks"), F.count(F.lit(1)).alias("n"))
            .repartition("block_id")
            .sortWithinPartitions("series_id", "ts_ms")
            .write.partitionBy("block_id")
            .option("compression", STORE_COMPRESSION)
            .mode(mode)
            .parquet(os.path.join(path, "data"))
        )
        # registry written AFTER data = commit point (marker-key-last,
        # shipper.go:311-319)
        refresh_registry(samples.sparkSession, path, block_ms, level,
                         touched=obs.get["blocks"] if mode == "append" else None)
    return obs.get["n"]


# named on every registry read, so the commit path runs no schema job
REGISTRY_SCHEMA = (
    "ulid string, block_id long, mint_ms long, maxt_ms long, num_samples long, "
    "num_series long, data_mint_ms long, data_maxt_ms long, compaction_level int"
)

_LOCKS: dict[str, threading.RLock] = {}


def _store_lock(path: str) -> threading.RLock:
    """In-process lock of the store at `path`, held from reading the
    live registry to swapping in the next, so two writers (HTTP request
    threads) never commit from one old registry and drop a block.
    Cross-process writers would need an object-store CAS."""
    return _LOCKS.setdefault(path.rstrip("/"), threading.RLock())


def refresh_registry(
    spark: SparkSession,
    path: str,
    block_ms: int = BLOCK_MS,
    level: int = 1,
    touched: list[int] | None = None,
    promote: int = 0,
) -> None:
    """Commit the block registry — the commit point of every write
    (batch shipper, streaming sink, remote-write receiver, compaction,
    delete). Readers list the registry, never the data dir (db.go:72
    lists marker keys, not data keys).

    With `touched` (the block ids a write landed or rewrote) only those
    `data/block_id=N` dirs are summarized and merged with the live
    registry's other rows (a touched block whose dir is gone leaves the
    registry): the commit costs O(touched blocks), and a partition no
    commit registered stays an orphan. A touched block keeps its
    registered level (an append must not undo a compaction), a new one
    gets `level`, and `promote` is added on top (compaction bumps its
    blocks in the same commit). Without `touched` (an overwrite) the
    registry is rebuilt from the whole data dir, every block at
    `level` + `promote`."""
    data_path = os.path.join(path, "data")
    with _store_lock(path):
        live, kept, dirs, reader = [], [], [data_path], spark.read
        if touched is not None:
            live = _live_registry(spark, path)
            touched = set(touched)
            kept = [r for r in live if r["block_id"] not in touched]
            dirs = [d for d in (f"{data_path}/block_id={b}" for b in touched)
                    if _fs_exists(spark, d)]
            reader = reader.schema("series_id long, ts_ms long").option("basePath", data_path)
        new = _summarize(reader.parquet(*dirs), block_ms).toArrow().to_pylist() if dirs else []
        levels = {r["block_id"]: r["compaction_level"] for r in live}
        for r in new:
            r["compaction_level"] = levels.get(r["block_id"], level) + promote
        _commit_registry(spark, path, sorted(kept + new, key=lambda r: r["block_id"]))


def _summarize(scan: DataFrame, block_ms: int) -> DataFrame:
    """Registry rows (all but compaction_level) of the blocks in `scan`."""
    return (
        # partition-dir inference types block_id as INT; widen before
        # arithmetic (INT * 7_200_000 overflows under ANSI mode)
        scan.withColumn("block_id", F.col("block_id").cast("long"))
        .groupBy("block_id")
        .agg(
            F.count(F.lit(1)).alias("num_samples"),
            F.countDistinct("series_id").alias("num_series"),
            F.min("ts_ms").alias("data_mint_ms"),
            F.max("ts_ms").alias("data_maxt_ms"),
        )
        .select(
            F.concat(F.lit("BLK"), F.lpad(F.col("block_id").cast("string"), 23, "0"))
            .alias("ulid"),
            "block_id",
            (F.col("block_id") * block_ms).alias("mint_ms"),
            ((F.col("block_id") + 1) * block_ms).alias("maxt_ms"),
            "num_samples",
            "num_series",
            "data_mint_ms",
            "data_maxt_ms",
        )
    )


def _live_registry(spark: SparkSession, path: str) -> list[dict]:
    """The live registry's rows as dicts ([] before the first commit)."""
    live = os.path.join(path, "registry")
    if not _fs_exists(spark, live):
        return []
    return spark.read.schema(REGISTRY_SCHEMA).parquet(live).toArrow().to_pylist()


def _commit_registry(spark: SparkSession, path: str, rows: list[dict]) -> None:
    """The one registry commit every writer goes through: `rows` (the
    collected O(#blocks) registry, so nothing re-reads a path this
    commit deletes) land in `registry_tmp` in one Spark write, swap in
    as the live registry (the commit point), and are then copied as
    the next immutable registry_history/version=N partition (a file
    copy, not a second job) — the time-travel surface ResultsCache
    keys on."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(REGISTRY_SCHEMA)  # Arrow in: no Python worker
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    reg = spark.createDataFrame(table, schema).coalesce(1)
    live, tmp = os.path.join(path, "registry"), os.path.join(path, "registry_tmp")
    reg.write.mode("overwrite").parquet(tmp)
    _fs_delete(spark, live)
    _fs_rename(spark, tmp, live)
    vs = registry_versions(spark, path)
    nxt = (max(vs) + 1) if vs else 0
    fs, P = _hfs(spark, live)
    hist, sc = P(f"{path}/registry_history/version={nxt}"), spark.sparkContext
    sc._jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, P(live), fs, hist, False, sc._jsc.hadoopConfiguration())


def read_samples(spark: SparkSession, path: str) -> DataFrame:
    """Open the block store (S1/S2): one scan over all partitions;
    Catalyst prunes by block_id for time-bounded queries."""
    return spark.read.parquet(os.path.join(path, "data"))


def read_registry(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Block registry = the meta.json/marker listing (S2/S4).
    `version` time-travels to a past commit's registry snapshot
    (see snapshot_samples for what that does and doesn't pin)."""
    if version is None:
        return spark.read.parquet(os.path.join(path, "registry"))
    return (
        spark.read.parquet(os.path.join(path, "registry_history"))
        .where(F.col("version") == int(version))
        .drop("version")
    )


def registry_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed registry snapshot versions, oldest first (a listing
    of the `version=N` directories, not a scan of the history)."""
    return sorted(
        int(v)
        for v in _partition_values(
            spark, os.path.join(path, "registry_history"), "version"
        )
    )


def snapshot_samples(
    spark: SparkSession, path: str, version: int
) -> DataFrame:
    """Time-travel read: the store's samples AS OF registry commit
    `version` — the scan is filtered to that snapshot's block ids
    (partition pruning on the IN list, no data copied at commit time).

    What this pins: block MEMBERSHIP (appends after the snapshot are
    invisible; blocks dropped by retention since then still resolve if
    their partitions remain). What it does not pin: in-place rewrites
    — compaction/delete rewrite block partitions under the same
    block_id, and the snapshot then serves the rewritten bytes (the
    same contract as Prometheus block ULID listings; immutable-rewrite
    stores get full fidelity for free)."""
    ids = [
        r.block_id
        for r in read_registry(spark, path, version).select("block_id").collect()
    ]
    return read_samples(spark, path).where(
        F.col("block_id").cast("long").isin(ids)
    )


def time_pruned(
    df: DataFrame,
    mint_ms: int | None,
    maxt_ms: int | None,
    block_ms: int = BLOCK_MS,
) -> DataFrame:
    """Time-range selection with EXPLICIT partition pruning: the
    block_id predicate prunes whole partitions (the reference's block
    skip, querier.go:25-46); the ts_ms predicate then row-group-skips
    and row-filters inside surviving blocks (P7/P8). Both inclusive."""
    if mint_ms is not None:
        df = df.where(
            (F.col("block_id") >= mint_ms // block_ms)
            & (F.col("ts_ms") >= mint_ms)
        )
    if maxt_ms is not None:
        df = df.where(
            (F.col("block_id") <= maxt_ms // block_ms)
            & (F.col("ts_ms") <= maxt_ms)
        )
    return df


def compact(
    spark: SparkSession,
    path: str,
    block_ids: list[int] | None = None,
    files_per_block: int = 1,
    block_ms: int = BLOCK_MS,
) -> None:
    """Compaction (Phase 4; the reference defers to upstream tsdb
    compact.go and never invokes it — SURVEY §2.7): rewrite each
    partition's many small files into `files_per_block` sorted files.
    `block_ids` defaults to every registered block. The registry
    commit re-summarizes only the compacted blocks and bumps their
    levels in the same commit (tsdb Compaction.Level semantics).

    Both paths repartition FIRST and sort WITHIN the final partitions —
    sorting before a coalesce would concatenate sorted partitions out
    of order and break the 'row groups = chunks' skipping property.
    All enumeration is registry-driven; no data-dir listing, so the
    same code runs against an object store."""
    data_path = os.path.join(path, "data")
    with _store_lock(path):
        if block_ids is None:
            block_ids = registry_block_ids(spark, path)
        df = spark.read.parquet(data_path).where(F.col("block_id").isin(block_ids))
        # (block_id, series-hash salt) partitioning yields exactly
        # `files_per_block` files per block, each internally sorted by
        # (series_id, ts_ms) so row-group min/max skipping holds per
        # file; every block compacts in parallel (no single-task
        # bottleneck).
        salt = F.pmod(F.xxhash64("series_id"), F.lit(max(1, files_per_block)))
        sub = (
            df.repartition(F.col("block_id"), salt)
            .sortWithinPartitions("series_id", "ts_ms")
        )
        sub.write.partitionBy("block_id").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).option("compression", STORE_COMPRESSION).parquet(data_path)
        # commit point: levels bumped ONLY for the blocks this
        # compaction touched
        refresh_registry(spark, path, block_ms, touched=block_ids, promote=1)


def plan_compaction(
    spark: SparkSession,
    path: str,
    factor: int = 3,
    max_level: int = 5,
) -> list[list[int]]:
    """tsdb-style compaction planning (upstream tsdb compact.go Plan —
    the piece agni defers to Prometheus, SURVEY §2.7): exponential
    windows of `factor**level` base blocks; a window is eligible when
    EVERY block in it exists at exactly that level (full window, no
    partial merges). Purely registry-driven metadata work — no data
    read, no FS listing — so planning is O(#blocks) on the driver no
    matter the store size. Returns sorted block-id groups; feed each to
    `compact(block_ids=group)` (levels bump on its registry commit)."""
    reg = read_registry(spark, path).select(
        "block_id", "compaction_level"
    ).collect()
    by_level: dict[int, int] = {r.block_id: r.compaction_level for r in reg}
    plans: list[list[int]] = []
    for level in range(1, max_level):
        w = factor ** level
        windows: dict[int, list[int]] = {}
        for b, lv in by_level.items():
            if lv == level:
                windows.setdefault(b // w, []).append(b)
        for _wid, blocks in sorted(windows.items()):
            if len(blocks) == w:
                plans.append(sorted(blocks))
    return plans


def drop_blocks_before(
    spark: SparkSession, path: str, cutoff_block_id: int
) -> list[int]:
    """Retention: partition drop for blocks entirely before the cutoff
    (VACUUM equivalent — the reference's retention is an S3 prefix
    delete keyed off marker listing, db.go:62-122). Enumeration is
    registry-driven (never lists the data dir) and deletion goes
    through the Hadoop FileSystem API, so the same code runs against
    s3a://. Registry rewritten last (commit point). Returns dropped
    ids."""
    data_path = os.path.join(path, "data")
    with _store_lock(path):
        live = _live_registry(spark, path)
        dropped = sorted(r["block_id"] for r in live if r["block_id"] < cutoff_block_id)
        for bid in dropped:
            _fs_delete(spark, os.path.join(data_path, f"block_id={bid}"))
        if dropped:
            _commit_registry(spark, path, [r for r in live if r["block_id"] >= cutoff_block_id])
    return dropped


def delete_samples(
    spark: SparkSession,
    path: str,
    tombstones: DataFrame,
    block_ms: int = BLOCK_MS,
) -> list[int]:
    """Tombstone WRITE path (P9 upgraded): physically delete samples
    falling inside (series_id, mint_ms, maxt_ms) intervals — the Delta
    DELETE equivalent, strictly stronger than the reference's read-time
    interval filtering (and its server runs with nop tombstones anyway,
    block.go:73-75).

    Scale posture: only blocks whose time range intersects a tombstone
    interval are rewritten (dynamic partition overwrite); untouched
    blocks are never read or written. The tombstone set is tiny ->
    collected once for pruning, broadcast for the anti-join. The write
    observes which hit blocks keep rows; the dynamic overwrite leaves
    the others' old files in place, so their partitions are deleted
    before the commit drops them from the registry. Returns the
    rewritten block_ids."""
    t = tombstones.select("series_id", "mint_ms", "maxt_ms").cache()
    try:
        intervals = t.collect()
        all_blocks = registry_block_ids(spark, path) if intervals else []
        hit = [
            b
            for b in all_blocks
            if any(
                b * block_ms <= iv.maxt_ms and iv.mint_ms < (b + 1) * block_ms
                for iv in intervals
            )
        ]
        if not hit:
            return []
        data_path = os.path.join(path, "data")
        df = spark.read.parquet(data_path).where(F.col("block_id").isin(hit))
        cond = (
            (df["series_id"] == t["series_id"])
            & (df["ts_ms"] >= t["mint_ms"])
            & (df["ts_ms"] <= t["maxt_ms"])
        )
        obs = Observation()
        kept = df.join(F.broadcast(t), cond, "left_anti")
        with _store_lock(path):
            (
                kept.repartition("block_id")
                .sortWithinPartitions("series_id", "ts_ms")
                # after the shuffle: still reported when no row survives
                .observe(obs, F.collect_set("block_id").alias("blocks"))
                .write.partitionBy("block_id")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", STORE_COMPRESSION)
                .parquet(data_path)
            )
            for b in set(hit) - set(obs.get["blocks"]):
                _fs_delete(spark, os.path.join(data_path, f"block_id={b}"))
            refresh_registry(spark, path, block_ms, touched=hit)
        return sorted(hit)
    finally:
        t.unpersist()


def repair_overlaps(spark: SparkSession, path: str, block_ms: int = BLOCK_MS) -> int:
    """Overlap REPAIR — the remedy the reference lacks: agni rejects a
    block set with overlapping time ranges outright (db.go:206-220,
    validateBlockSequence) and upstream tsdb needs vertical compaction.
    Here: re-bucket every sample to the canonical block grid, resolve
    duplicate (series, ts) collisions merge-on-read style (max value),
    and rewrite the store; the result is by construction non-overlapping
    with registry recommit. Returns the number of rows after repair."""
    from agni_spark.querier import merge_on_read

    cols = ["series_id", "ts_ms", "value"]
    df = read_samples(spark, path)
    # keep the ingest sequence when the store has one: the repair then
    # resolves collisions last-ingested-wins instead of max-value
    df = df.select(*cols, *(["_seq"] if "_seq" in df.columns else []))
    clean = merge_on_read(df)
    # Spark cannot overwrite its own lazy input: repair lands in a
    # staging store first, then swaps in (the write itself is the
    # barrier that materializes `clean` from the OLD files)
    stage = path.rstrip("/") + "_repair"
    write_blocks(clean, stage, block_ms=block_ms, mode="overwrite")
    n = read_samples(spark, stage).count()
    _fs_delete(spark, path)
    _fs_rename(spark, stage, path)
    return n


def vacuum_store(spark: SparkSession, path: str) -> list[int]:
    """GC orphaned data partitions: block dirs present under `data/`
    but ABSENT from the registry — exactly the debris a crashed write
    leaves behind under the marker-key-last protocol (data landed,
    registry rewrite never happened, so no reader has ever seen them).
    This is the one lifecycle op that MUST list the data dir (orphans
    are by definition unlisted); everything goes through the Hadoop
    FileSystem API so it runs against s3a:// unchanged. Registry is
    untouched — vacuum removes only what was never committed. Returns
    the orphaned block ids removed."""
    data_path = os.path.join(path, "data")
    found = _partition_values(spark, data_path, "block_id")
    if not found:
        return []
    committed = set(registry_block_ids(spark, path))
    removed = sorted(int(b) for b in found if int(b) not in committed)
    for bid in removed:
        _fs_delete(spark, os.path.join(data_path, f"block_id={bid}"))
    return removed


# ---------------------------------------------------------------------------
# multi-tenancy: one REGISTRY-COMMITTED store per tenant under a common
# root (the Cortex/Thanos layout — tenant isolation is directory
# isolation, so per-tenant retention/compaction/vacuum reuse the
# single-store ops unchanged and a tenant's query can never scan
# another tenant's bytes).
# ---------------------------------------------------------------------------
_TENANT_OK = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"


def tenant_path(root: str, tenant: str) -> str:
    """Validated per-tenant store path (reject separators — a tenant
    name must never traverse out of the root)."""
    if not tenant or any(c not in _TENANT_OK for c in tenant):
        raise ValueError(f"invalid tenant name {tenant!r}")
    return os.path.join(root, f"tenant={tenant}")


def write_tenant_blocks(
    samples: DataFrame, root: str, tenant: str, **kwargs
) -> None:
    write_blocks(samples, tenant_path(root, tenant), **kwargs)


def tenants(spark: SparkSession, root: str) -> list[str]:
    return sorted(_partition_values(spark, root, "tenant"))


def cross_tenant_samples(
    spark: SparkSession, root: str, only: list[str] | None = None
) -> DataFrame:
    """Federated read across tenants, each row tagged with its tenant
    (the cross-tenant admin/billing query shape). The union is lazy —
    per-tenant scans keep their own pruning, and an `only` list is a
    directory choice, not a filter over everyone's data."""
    names = only if only is not None else tenants(spark, root)
    if not names:
        raise ValueError("no tenants found")
    parts = [
        read_samples(spark, tenant_path(root, t)).withColumn(
            "tenant", F.lit(t)
        )
        for t in names
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def audit_store(spark: SparkSession, path: str) -> DataFrame:
    """Integrity audit: reconcile the registry against the data
    partitions — per block, registered vs actual sample/series counts.
    status: 'ok' (counts match), 'count_mismatch' (tampered/partial
    partition), 'missing_data' (registered block with no partition —
    lost data), 'uncommitted' (partition with no registry row — vacuum
    candidate). One scan + one tiny full-outer join; run it after any
    lifecycle operation or on a schedule against s3a:// unchanged."""
    reg = read_registry(spark, path).select(
        "block_id",
        F.col("num_samples").alias("reg_samples"),
        F.col("num_series").alias("reg_series"),
    )
    actual = _summarize(read_samples(spark, path), BLOCK_MS).select(
        "block_id",
        F.col("num_samples").alias("act_samples"),
        F.col("num_series").alias("act_series"),
    )
    joined = reg.join(actual, "block_id", "full_outer")
    status = (
        F.when(F.col("reg_samples").isNull(), F.lit("uncommitted"))
        .when(F.col("act_samples").isNull(), F.lit("missing_data"))
        .when(
            (F.col("reg_samples") == F.col("act_samples"))
            & (F.col("reg_series") == F.col("act_series")),
            F.lit("ok"),
        )
        .otherwise(F.lit("count_mismatch"))
    )
    return joined.select(
        "block_id", "reg_samples", "act_samples", "reg_series", "act_series",
        status.alias("status"),
    ).orderBy("block_id")


def rollback_store(spark: SparkSession, path: str, version: int) -> None:
    """Restore the LIVE registry to a historical snapshot — the undo
    for a bad compaction/retention/ingest commit (data partitions are
    untouched; blocks the snapshot doesn't list become orphans that
    `vacuum_store` can then GC, and blocks it lists must still exist —
    validated before anything is overwritten). The restore itself
    lands with the same tmp+rename commit as every registry rewrite,
    and is recorded as a NEW history version (audit trail keeps
    moving forward — time travel, not history rewriting)."""
    rows = read_registry(spark, path, version).toArrow().to_pylist()
    want = [r["block_id"] for r in rows]
    data_path = os.path.join(path, "data")
    missing = [
        b for b in want
        if not _fs_exists(spark, os.path.join(data_path, f"block_id={b}"))
    ]
    if missing:
        raise ValueError(
            f"cannot roll back to version {version}: data partitions "
            f"missing for blocks {missing}"
        )
    with _store_lock(path):
        _commit_registry(spark, path, rows)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering — multi-dimensional file/row-group pruning
# ---------------------------------------------------------------------------
def morton_col(x, y, bits: int = 16):
    """Morton/Z-order interleave of two non-negative int columns
    (truncated to `bits` bits each): bit i of x lands at position 2i,
    bit i of y at 2i+1. Pure shift/mask arithmetic — constant-folded
    into whole-stage codegen, no UDF."""
    xm = F.col(x) if isinstance(x, str) else x
    ym = F.col(y) if isinstance(y, str) else y
    xm = xm.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    ym = ym.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(
                F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


def zorder_write(
    df: DataFrame, path: str, c1: str, c2: str,
    n_files: int = 16, bits: int = 16, sample_rows: int = 1_000_000,
) -> None:
    """Write `df` clustered on the Morton curve of (c1, c2): range-
    partition on the z value, sort within files, drop the helper
    column. The effect is the Delta/Iceberg OPTIMIZE ZORDER layout:
    parquet footer min/max on BOTH columns become tight per file/row
    group, so a 2-D rectangle predicate skips most files — linear
    sorting can only ever prune one of the two dimensions. The write
    itself is one range shuffle; no reader-side change is needed
    (pruning falls out of ordinary parquet stats + pushed filters).

    Range boundaries: RangePartitioner normally *samples* ~100 rows
    per input partition, so file boundaries (and thus which files a
    slab predicate touches) shift run to run. We raise
    sampleSizePerPartition for the duration of this write so that any
    input partition up to `sample_rows` rows is sketched exhaustively
    — boundaries become the exact _z quantiles, and the layout is
    deterministic for a given input. At 100 TB the sketch is still
    bounded (sample_rows per partition, collected once on the driver),
    the same knob Delta/Iceberg OPTIMIZE jobs turn."""
    spark = df.sparkSession
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(sample_rows))
    try:
        (
            df.withColumn("_z", morton_col(c1, c2, bits))
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
