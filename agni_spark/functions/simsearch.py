"""Similarity search over embedding columns (north-star extension).

- cosine_topk: exact brute-force top-k per query — the correctness
  baseline. Queries are a small set -> broadcast; the corpus scan is
  embarrassingly parallel; per-query top-k via window rank (no
  driver-side collect).
- lsh_ann: sign-LSH (random hyperplanes) bucketed approximate search —
  the 100 TB path. Planes are generated from a deterministic md5-seeded
  PRNG so results are reproducible across runs/engines; candidates =
  same bucket (multi-probe: optionally hamming-1 neighbors), then exact
  cosine rerank within buckets only.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from agni_spark.functions.dedup import cosine, py_hash60


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries(query_id long, embedding array<float>) — small, broadcast.
    Deterministic tie-break: (cos DESC, vec_id ASC). Self-matches
    (same id) are excluded."""
    q = F.broadcast(
        queries.select(
            F.col("query_id"), F.col("embedding").alias("qe")
        )
    )
    c = corpus.select("vec_id", F.col("embedding").alias("ce"))
    scored = (
        c.crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("qe"), F.col("ce")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk")
    )


def hyperplanes(dim: int, n_planes: int, seed: str = "agni") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim derived
    from md5 — reproducible anywhere (matches dedup.py_hash60)."""
    return [
        [
            (py_hash60(f"{seed}:{p}:{d}") % 2001 - 1000) / 1000.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _bucket(col, planes: list[list[float]]):
    """Sign-pattern bucket id for an array<float> column."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        dot = F.aggregate(
            F.zip_with(col, lit_plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits).cast("long")


def ivf_centroids(
    corpus: DataFrame, n_centroids: int = 8, iters: int = 1
) -> DataFrame:
    """Deterministic seeded-sample k-means coarse quantizer.

    Init: the n vectors with the smallest md5-derived hash of their id
    (a seeded uniform sample — NOT the first ids, whose arbitrary order
    gives unbalanced cells at scale). Then `iters` fixed Lloyd rounds:
    assign every vector to its argmax-cosine centroid, replace each
    centroid with its cell's element-wise mean (rounded to 6dp so the
    DuckDB oracle mirror lands on identical floats). Fixed seed + fixed
    iteration count keeps the quantizer fully reproducible and
    oracle-checkable.

    Scale: init is a TakeOrderedAndProject over the hash (top-n heap,
    no global sort); each Lloyd round is one broadcast-join assignment
    pass + one (centroid, pos) groupBy — all map-side-combining."""
    from agni_spark.functions.dedup import hash60

    cents = (
        corpus.orderBy(hash60(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        )
    )
    for _ in range(iters):
        assigned = _nearest_centroids(
            corpus.select("vec_id", F.col("embedding").alias("ce")),
            cents, "vec_id", "ce", 1,
        )
        means = (
            assigned.select("centroid_id", F.posexplode(F.col("ce")))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), 6).alias("m"))
        )
        cents = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias("cvec"),
            )
        )
    # n_centroids rows, but with a Lloyd-round lineage (full assignment
    # pass) — persist AND eagerly materialize. persist() alone is lazy:
    # the consumers broadcast this table (`F.broadcast(cents)`), and a
    # broadcast build over an unmaterialized cache re-runs the Lloyd
    # lineage per broadcast exchange. The count() pins the 8-row result
    # before any consumer plans against it.
    cents = cents.persist()
    cents.count()
    return cents


def _nearest_centroids(
    df: DataFrame, cents: DataFrame, id_col: str, vec_col: str, n: int,
    keep_rank: bool = False, keep_sim: bool = False,
) -> DataFrame:
    """Top-n centroids by cosine for each vector.

    The centroid table is BOUNDED (n_centroids rows — a model
    parameter, not data) and already materialized by every caller
    (ivf_centroids persists+counts; the stored probes read an 8-row
    parquet), so it is collected and inlined as LITERALS: the whole
    assignment becomes a PURE PROJECTION over `df` — no broadcast
    exchange, no join, and (round-15, guide §2.4/§8) none of the
    full-corpus shuffle the previous shapes paid (r13's rank window
    moved n_vectors x n_centroids rows; r14's max_by still hash-
    exchanged one row per vector, embedding payload included, to
    merge groups that were already partition-complete).

    Numeric path is unchanged expression for expression: per-pair
    sim = round(dot / sqrt(na*nb), 6) with the dot and na computed by
    the same sequential Catalyst folds as before (na staged once per
    row), and nb pre-folded in Python over the collected doubles —
    the identical left-fold `acc + v*v` sequence of IEEE operations,
    so the float is bit-identical to the Spark fold it replaces.

    n == 1: the argmax over the n_centroids (sim, -centroid_id)
    structs via array_max — Spark's struct total order (NaN greatest,
    nulls first ascending) reproduces the r13 window's (sim DESC,
    centroid_id ASC) exactly, as the r14 max_by did (test-pinned
    against the window shape).

    n > 1 / `keep_rank=True`: sort_array(..., asc=False) over the
    same structs + slice + posexplode — rank rn = array position, so
    a caller needing BOTH the top-1 and top-n assignment of the same
    vectors (knn_graph) still derives them from one scored pass.

    `keep_sim=True` (n == 1 path) additionally surfaces the winning
    centroid's rounded similarity as `sim` — for callers that rank
    members WITHIN their own cell (graph_entry_medoids) and would
    otherwise re-score the winner."""

    def _sq_norm(col):
        return F.aggregate(
            col,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )

    cent_rows = sorted(
        ((int(r["centroid_id"]), [float(v) for v in r["cvec"]])
         for r in cents.select("centroid_id", "cvec").collect()),
        key=lambda t: t[0],
    )
    payload = [c for c in df.columns if c != id_col]
    if not cent_rows:
        # empty quantizer (empty training corpus): the old crossJoin
        # against an empty centroid table produced zero rows
        out = df.select(
            id_col, *payload, F.lit(None).cast("long").alias("centroid_id")
        ).where(F.lit(False))
        if keep_sim:
            out = out.withColumn("sim", F.lit(None).cast("double"))
        if keep_rank:
            out = out.withColumn("rn", F.lit(None).cast("int"))
        return out

    def _sim(cid: int, cvec: list):
        lit_cvec = F.array(*[F.lit(v) for v in cvec])
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                lit_cvec,
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        # nb: Python left fold acc + v*v — bit-identical to the Spark
        # fold over the same doubles (same IEEE ops, same order)
        nb = 0.0
        for v in cvec:
            nb = nb + v * v
        return F.round(dot / F.sqrt(F.col("_na") * F.lit(nb)), 6)

    structs = F.array(*[
        F.struct(
            _sim(cid, cvec).alias("sim"),
            F.lit(-cid).cast("long").alias("_nc"),
        )
        for cid, cvec in cent_rows
    ])
    staged = df.withColumn("_na", _sq_norm(F.col(vec_col)))
    if n == 1 and not keep_rank:
        sim_cols = [F.col("_b.sim").alias("sim")] if keep_sim else []
        return staged.withColumn("_b", F.array_max(structs)).select(
            id_col, *payload,
            (-F.col("_b._nc")).cast("long").alias("centroid_id"),
            *sim_cols,
        )
    top = F.slice(F.sort_array(structs, asc=False), 1, n)
    out = staged.select(
        *df.columns, F.posexplode(top).alias("_pos", "_b")
    ).select(
        *df.columns,
        (-F.col("_b._nc")).cast("long").alias("centroid_id"),
        (F.col("_pos") + 1).cast("int").alias("rn"),
    )
    return out if keep_rank else out.drop("rn")


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: each corpus vector lives in exactly
    one cell (argmax-cosine centroid); a query probes its `nprobe`
    nearest cells and reranks exactly inside them.

    100 TB path: cells are the partitioning key (`partitionBy(
    centroid_id)` at write time), so a query's work is nprobe/n_cells
    of the corpus, and the centroid table (tiny) broadcasts. Candidates
    are naturally deduplicated — cell membership is unique."""
    cents = ivf_centroids(corpus, n_centroids)
    cells = _nearest_centroids(
        corpus.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", 1,
    )
    probes = _nearest_centroids(
        queries.select("query_id", F.col("embedding").alias("qe")),
        cents, "query_id", "qe", nprobe,
    )
    # The cells ⋈ probes join keys on centroid_id — n_centroids
    # DISTINCT VALUES, so its output lands in <= n_centroids non-empty
    # partitions and the exact cosine rerank (the expensive part:
    # higher-order-function folds over the vectors) would run nearly
    # serial regardless of cluster size. Redistribute the candidate
    # pairs on (query_id, vec_id) BEFORE scoring (same bytes the rank
    # window would have shuffled anyway, moved one stage earlier), then
    # project narrow rows so the window's own query_id shuffle carries
    # only (ids, cos). knn_graph (all-points queries) went 17s -> ~2s
    # at sf0.1 from this alone.
    scored = (
        cells.join(probes, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .repartition(F.col("query_id"), F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk")
    )


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the sign-LSH bucket, exact
    cosine rerank inside the bucket. At 100 TB the corpus is written
    bucketed (partitionBy(bucket)) so a query touches one partition;
    recall/latency trade via n_planes (bucket granularity 2^n).

    multiprobe=True additionally probes every hamming-1 neighbor bucket
    of the query (flip one sign bit): n_planes+1 probes per query —
    still broadcast-sized — trading ~(n+1)x probed cells for the recall
    lost to near-boundary vectors. Corpus vectors live in exactly one
    bucket, so candidates never duplicate."""
    planes = hyperplanes(dim, n_planes)
    c = corpus.select(
        "vec_id",
        F.col("embedding").alias("ce"),
        _bucket(F.col("embedding"), planes).alias("bucket"),
    )
    qb = _bucket(F.col("embedding"), planes)
    if multiprobe:
        probes = F.explode(
            F.array(qb, *[qb.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])
        )
    else:
        probes = qb
    q = F.broadcast(
        queries.select(
            "query_id",
            F.col("embedding").alias("qe"),
            probes.alias("bucket"),
        )
    )
    scored = (
        c.join(q, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("qe"), F.col("ce")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk")
    )


def semantic_dedup_keep(
    corpus: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.9,
    cell_cap: int = 4096,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (cluster, then drop
    near-identical members): a vector is KEPT iff no lower-id vector in
    its comparison group has cosine >= threshold with it — the
    deterministic keep-lowest-id variant of the greedy cluster sweep.

    Scale: pairwise work is confined to cells (n^2/k per cell instead
    of corpus-wide n^2); cells come from the same k-means quantizer as
    ivf_ann, so the store's cell partitioning serves both. `cell_cap`
    bounds the worst case: members rank by vec_id within their cell and
    cells split into capped sub-cells of at most cell_cap members, so a
    pathologically fat cell costs cap^2 * (n/cap) instead of n^2 —
    the standard SemDeDup within-cluster-chunk approximation, and a
    no-op whenever every cell fits the cap (deterministic either way)."""
    cents = ivf_centroids(corpus, n_centroids)
    cells = _nearest_centroids(
        corpus.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", 1,
    )
    return _semdedup_sweep(cells, threshold, cell_cap)


def _semdedup_sweep(
    cells: DataFrame, threshold: float, cell_cap: int
) -> DataFrame:
    """The within-cell pairwise sweep shared by semantic_dedup_keep
    (one-shot: cells from a fresh k-means assignment) and
    semantic_dedup_stored (cells from a stored IVF index's committed
    partitions). Input: (centroid_id, vec_id, ce). Keep a vector iff
    no lower-id vector in its capped sub-cell has cosine >=
    threshold."""
    rk = F.row_number().over(
        Window.partitionBy("centroid_id").orderBy("vec_id")
    )
    # the assignment feeds BOTH pairwise sides and the final anti-join;
    # persist it once (SemDeDup materializes cluster membership anyway —
    # at scale this is the cells table you'd write partitioned)
    cells = cells.withColumn(
        "sub", ((rk - F.lit(1)) / F.lit(cell_cap)).cast("long")
    ).persist()
    # Precompute each vector's norm ONCE; the pairwise stage then only
    # folds the dot product (2/3 less per-pair expression work than
    # recomputing both norms per pair). sqrt(na)*sqrt(nb) differs from
    # sqrt(na*nb) only at the last ulp — far below the 6dp round.
    norm = F.sqrt(
        F.aggregate(
            F.col("ce"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    cells = cells.withColumn("nrm", norm)
    a = cells.select(
        F.col("centroid_id"), F.col("sub"), F.col("vec_id").alias("id_a"),
        F.col("ce").alias("ea"), F.col("nrm").alias("na"),
    )
    b = cells.select(
        F.col("centroid_id"), F.col("sub"), F.col("vec_id").alias("id_b"),
        F.col("ce").alias("eb"), F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dup = (
        a.join(b, ["centroid_id", "sub"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(dot / (F.col("na") * F.col("nb")), 6) >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(dup, "vec_id", "left_anti")
        .select("centroid_id", "vec_id")
        .orderBy("vec_id")
    )


def semantic_dedup_stored(
    spark, index, threshold: float = 0.9, cell_cap: int = 4096
) -> DataFrame:
    """INDEX-ACCELERATED semantic dedup — the stored-index path of
    semantic_dedup_keep, and the shape a 100 TB curation pipeline
    actually runs: cluster assignment comes from the stored IVF
    index's committed `cells` partitions (frozen quantizer, already
    physically clustered on centroid_id) instead of a fresh k-means +
    corpus-wide assignment per sweep. Each post-ingest dedup pass
    then costs only the within-cell pairwise stage over a
    partition-parallel scan of the store — training and assignment
    are amortized across every sweep, and the scan's clustering IS
    the comparison grouping, so no corpus-wide shuffle precedes the
    pairwise join. Tombstones and upsert horizons resolve exactly as
    probes resolve them (deleted rows neither survive nor suppress a
    survivor; an upserted id competes at its NEWEST vector only).
    Same keep-lowest-id semantics and cell_cap bound as the one-shot;
    over an index built from the same corpus/params the two agree row
    for row (oracle-pinned). `index` is a path or an open
    IvfIndexHandle."""
    h = index if isinstance(index, IvfIndexHandle) else IvfIndexHandle(
        spark, index
    )
    live = _anti_tombstones(
        h.scan.select("centroid_id", "vec_id", "ce", "commit"),
        h.tombstones,
    ).select("centroid_id", "vec_id", "ce")
    return _semdedup_sweep(live, threshold, cell_cap)


# ---------------------------------------------------------------------------
# Stored (partitioned) index variants — the materialized 100 TB path.
# The in-memory builders above recompute cells per query batch; at
# scale the index is built ONCE and written physically partitioned on
# its routing key, so a probe query's scan touches nprobe partitions
# (dynamic partition pruning) instead of the whole corpus.
# ---------------------------------------------------------------------------
class ManifestConflictError(RuntimeError):
    """Two writers tried to commit the same manifest version
    concurrently; the loser's create is rejected with the store
    unchanged. Round 13: append/upsert/delete RETRY this internally
    (OCC — re-read the manifest, renumber the staged commit if the
    racer's id is higher, re-attempt the CAS; see _append_manifest),
    so the error SURFACES only past _OCC_MAX_ATTEMPTS, from
    compaction (which aborts on any concurrent write rather than
    guess how to merge), or from a build racing another build at the
    same path. When it does surface, the staged commit is
    unreferenced debris (vacuum reclaims it) and the operation must
    be re-run from a fresh manifest read. Each writer stages under a
    commit id it holds EXCLUSIVELY (a `manifest/.claim-N` file landed
    with the same create-no-overwrite CAS), so racers can never
    cross-contaminate one another's `commit=` directories."""


class ManifestUnsafeStoreError(RuntimeError):
    """The manifest commit protocol needs `FileSystem.create(path,
    overwrite=false)` to be an atomic compare-and-swap. It is on
    local/HDFS/viewfs (POSIX O_EXCL / namenode-serialized create) and
    on object-store connectors that map it to a conditional PUT
    (If-None-Match) — but some connectors implement it as a HEAD
    check followed by an unconditional PUT (older s3a), where two
    racing writers can BOTH win and one commit is silently lost.
    Rather than carry that as a docstring caveat, the writer now
    probes the store and REFUSES multi-writer commits it cannot make
    safe. Overrides: set `spark.agni.manifest.casCapable=true` when
    you know the store's conditional create is real (e.g. s3a with
    conditional-write support enabled), or
    `spark.agni.manifest.singleWriter=true` to accept the round-12
    single-writer-per-index contract on a non-CAS store."""


# create(overwrite=false) is a true CAS on these schemes: POSIX
# O_CREAT|O_EXCL locally, namenode-serialized create on HDFS/viewfs.
_CAS_ATOMIC_SCHEMES = {"", "file", "hdfs", "viewfs"}
# best-effort Hadoop path-capability names implying conditional
# create on an object store; hasPathCapability returns false for
# names a connector doesn't know, so probing extras is harmless
_CAS_CAPABILITY_PROBES = (
    "fs.option.create.conditional.overwrite",
    "fs.capability.create.conditional.overwrite",
)
_cas_trust_cache: dict = {}


def _cas_capable(spark, fs, P, base: str) -> bool:
    """Is create-no-overwrite a real CAS on `base`'s filesystem?
    Known-atomic schemes short-circuit; other schemes are probed once
    per (scheme, authority) via hasPathCapability and cached."""
    uri = P(base).toUri()
    scheme = (uri.getScheme() or "").lower()
    if scheme in _CAS_ATOMIC_SCHEMES:
        return True
    key = (scheme, uri.getAuthority() or "")
    if key in _cas_trust_cache:
        return _cas_trust_cache[key]
    ok = False
    for cap in _CAS_CAPABILITY_PROBES:
        try:
            if fs.hasPathCapability(P(base), cap):
                ok = True
                break
        except Exception:
            pass
    _cas_trust_cache[key] = ok
    return ok


def _require_cas(spark, fs, P, base: str) -> None:
    """Refuse to run the commit protocol on a store whose
    create-no-overwrite is not a CAS (see ManifestUnsafeStoreError),
    unless the user overrode via config. Checked at every claim and
    manifest write; the probe is cached so steady-state cost is a
    dict lookup."""
    try:
        override = spark.conf.get("spark.agni.manifest.casCapable", None)
    except Exception:
        override = None
    if override is not None and str(override).lower() == "true":
        return
    if override is None and _cas_capable(spark, fs, P, base):
        return
    try:
        single = spark.conf.get("spark.agni.manifest.singleWriter", "false")
    except Exception:
        single = "false"
    if str(single).lower() == "true":
        return
    uri = P(base).toUri()
    raise ManifestUnsafeStoreError(
        f"filesystem scheme '{uri.getScheme()}' at {base} does not "
        "advertise an atomic create-no-overwrite; the manifest commit "
        "CAS (and the commit-id claims) would be unsafe under "
        "concurrent writers. Set spark.agni.manifest.casCapable=true "
        "if the store's conditional create is real, or "
        "spark.agni.manifest.singleWriter=true to accept "
        "single-writer-per-index semantics."
    )


def _manifest_entries(spark, path: str) -> list[tuple[int, str, bool]]:
    """(version, entry_name, is_file) for every manifest version present
    on disk, sorted by version — `v=N.json` single-file commits (round
    12) and legacy `v=N/` parquet dirs (round 11) both count. Names
    that don't parse as a version (legacy flat part files, dot-temp
    debris from the retired rename mechanism) are ignored."""
    from agni_spark.sources.layout import _hfs

    base = f"{path}/manifest"
    fs, P = _hfs(spark, base)
    if not fs.exists(P(base)):
        return []
    out = []
    for st in fs.listStatus(P(base)):
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        is_file = name.endswith(".json")
        raw = name[2:-5] if is_file else name[2:]
        try:
            out.append((int(raw), name, is_file))
        except ValueError:
            pass
    return sorted(out)


def _manifest_versions(spark, path: str) -> list[int]:
    """Sorted manifest versions present on disk (both formats). Empty
    for legacy flat manifests. Presence only — a version number can
    belong to a truncated create-then-crash file; readers resolve the
    newest PARSEABLE version (_resolve_manifest), writers only need
    max+1 for the next slot."""
    return sorted({v for v, _, _ in _manifest_entries(spark, path)})


def _read_small_file(spark, path: str) -> bytes:
    """Whole-file read of a small control file through the Hadoop
    FileSystem API (same any-scheme contract as the writes) — no Spark
    job, the manifest is bytes, not a dataset."""
    from agni_spark.sources.layout import _hfs

    fs, P = _hfs(spark, path)
    stream = fs.open(P(path))
    try:
        data = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(
            stream
        )
    finally:
        stream.close()
    return bytes(data)


_CLAIM_MAX_PROBES = 64
_OCC_MAX_ATTEMPTS = 5
# Claim lease (round 14): a claim older than this is presumed orphaned
# (its writer crashed) and is auto-reclaimed during normal claim
# probing and by default vacuum — the common crash case no longer
# needs the manual vacuum_index(reclaim_claims=True) pass. Generous by
# default (hours ≫ any real write) because lease recovery carries the
# inherent lakehouse-VACUUM retention risk: a LIVE writer slower than
# the lease loses its claim; _verify_claim_held makes that loss loud
# (abort before commit) instead of silent.
_CLAIM_LEASE_DEFAULT_SEC = 21600.0


def _claim_lease_sec(spark) -> float:
    """The claim lease in seconds — `spark.agni.manifest.claimLeaseSec`
    (default 6 hours). Deployments with multi-hour index writes should
    raise it; tests lower it to exercise reclaim."""
    try:
        return float(
            spark.conf.get(
                "spark.agni.manifest.claimLeaseSec",
                str(_CLAIM_LEASE_DEFAULT_SEC),
            )
        )
    except Exception:
        return _CLAIM_LEASE_DEFAULT_SEC


def _expired_claim_ids(
    spark, path: str, committed: set, claimed: list
) -> list[int]:
    """Uncommitted claims whose recorded `ts` is older than the lease —
    orphan candidates. Claims without a timestamp (pre-round-14
    writers) and unreadable claim docs (possibly mid-create) are
    SPARED: age-based recovery only ever fires on a claim that
    declared its own birth time."""
    import json
    import time

    lease = _claim_lease_sec(spark)
    now = time.time()
    base = f"{path}/manifest"
    out = []
    for cid in claimed:
        if cid in committed:
            continue  # spent bookkeeping — vacuum always reclaims
        try:
            doc = json.loads(
                _read_small_file(spark, f"{base}/.claim-{cid}")
            )
        except Exception:
            continue
        ts = doc.get("ts")
        if ts is not None and now - float(ts) > lease:
            out.append(cid)
    return out


def _reclaim_expired_claims(
    spark, path: str, committed: set, claimed: list
) -> list[int]:
    """Delete expired orphan claims (see _expired_claim_ids) so their
    ids stop burning — called during normal claim probing, making
    crash recovery automatic. Only the claim FILE is removed here; the
    orphan's staged `commit=` debris is cleared by whichever writer
    claims the freed id next (_clear_uncommitted_commit) or by vacuum.
    Two probers racing on the same expired claim are safe: delete is
    idempotent and the subsequent create-no-overwrite decides the id.
    A live writer that outlived the lease and lost its claim aborts at
    commit time via _verify_claim_held rather than committing over a
    possibly-reassigned id."""
    from agni_spark.sources.layout import _hfs

    base = f"{path}/manifest"
    fs, P = _hfs(spark, base)
    reclaimed = []
    for cid in _expired_claim_ids(spark, path, committed, claimed):
        try:
            fs.delete(P(f"{base}/.claim-{cid}"), False)
            reclaimed.append(cid)
        except Exception:
            pass
    return reclaimed


# owner tokens (round 14): each claim doc records a per-claim random
# token, remembered PROCESS-LOCALLY here keyed by (index path, commit
# id) — the claim belongs to this process, so no caller plumbing is
# needed. Lets _verify_claim_held distinguish "my claim still exists"
# from "my claim expired, was reclaimed, and the same id was re-issued
# to ANOTHER writer" (the file exists either way), and lets
# _renew_claim refresh only a claim this process still owns.
_CLAIM_OWNERS: dict = {}


def _verify_claim_held(spark, path: str, nxt: int) -> None:
    """Abort (loudly) when this writer's claim is gone OR was re-issued
    to another writer: the file vanished (lease expired, a prober
    reclaimed the id) or it exists but carries a different owner token
    (reclaimed AND re-claimed — without the token this was
    undetectable). Checked at the top of every commit attempt; the
    check-to-CAS window is the residual race, which is why the default
    lease is hours, not minutes — and why long folds renew
    (_renew_claim)."""
    import json

    from agni_spark.sources.layout import _hfs

    target = f"{path}/manifest/.claim-{int(nxt)}"
    fs, P = _hfs(spark, target)
    if not fs.exists(P(target)):
        raise ManifestConflictError(
            f"claim .claim-{int(nxt)} at {path} no longer exists — "
            "this writer exceeded the claim lease "
            "(spark.agni.manifest.claimLeaseSec) and the id was "
            "reclaimed; aborting instead of committing over a "
            "possibly-reassigned id. Re-run the operation; raise the "
            "lease (or renew mid-write) if writes legitimately take "
            "this long."
        )
    mine = _CLAIM_OWNERS.get((path, int(nxt)))
    if mine is None:
        return  # adopted pre-round-14 claim: existence is the check
    try:
        doc = json.loads(_read_small_file(spark, target))
    except Exception:
        return  # unreadable mid-rewrite — existence already verified
    theirs = doc.get("owner")
    if theirs is not None and theirs != mine:
        raise ManifestConflictError(
            f"claim .claim-{int(nxt)} at {path} now belongs to a "
            "different writer — this writer's lease expired, the id "
            "was reclaimed and re-issued; aborting instead of "
            "committing another writer's staging. Re-run the "
            "operation; raise the lease (or renew mid-write) if "
            "writes legitimately take this long."
        )


def _renew_claim(spark, path: str, nxt: int) -> bool:
    """Refresh this process's claim `ts` so a legitimately-long write
    (a large compaction fold) never outlives the lease: verify the
    claim is still ours (_verify_claim_held — raises if lost or
    stolen), then rewrite the claim doc in place with a fresh
    timestamp and the same owner/batch/app fields. Overwrite is safe:
    only the owner ever rewrites its claim; racers use
    create-no-overwrite. Returns False on a transient IO failure
    (the claim simply keeps aging toward the lease — the next
    _verify_claim_held still guards the commit)."""
    import json
    import time

    from agni_spark.sources.layout import _hfs

    _verify_claim_held(spark, path, nxt)
    target = f"{path}/manifest/.claim-{int(nxt)}"
    try:
        doc = json.loads(_read_small_file(spark, target))
    except Exception:
        doc = {}
    doc["ts"] = round(time.time(), 3)
    mine = _CLAIM_OWNERS.get((path, int(nxt)))
    if mine is not None:
        doc["owner"] = mine
    try:
        fs, P = _hfs(spark, target)
        out = fs.create(P(target), True)
        try:
            out.write(bytearray(json.dumps(doc).encode("utf-8")))
        finally:
            out.close()
        return True
    except Exception:
        return False


def _claimed_ids(spark, path: str) -> list[int]:
    """Commit ids currently held by a `manifest/.claim-N` file —
    dot-prefixed so legacy flat-manifest parquet reads (and every
    Spark directory scan) treat it as a hidden file —
    claimed by an in-flight (or crashed) writer. Sorted. Claim names
    never collide with manifest versions (`v=*`), so readers ignore
    them entirely."""
    from agni_spark.sources.layout import _hfs

    base = f"{path}/manifest"
    fs, P = _hfs(spark, base)
    if not fs.exists(P(base)):
        return []
    out = []
    for st in fs.listStatus(P(base)):
        name = st.getPath().getName()
        if name.startswith(".claim-"):
            try:
                out.append(int(name[len(".claim-"):]))
            except ValueError:
                pass
    return sorted(out)


def _claim_commit_id(
    spark, path: str, rows: list, subdirs: list,
    batch_id: int | None = None, adopt_exclude: int | None = None,
    app_id: str | None = None,
) -> int:
    """Claim an EXCLUSIVE commit id for one write (round-13 OCC): land
    `manifest/.claim-N` via create-no-overwrite — the same CAS
    primitive as the manifest commit itself — starting at
    max(committed ∪ claimed)+1 and probing upward past ids other
    writers hold. Exclusivity is what makes concurrent writers safe
    to RETRY: two racers can no longer stage into the same `commit=N`
    directory (the round-12 cross-contamination), so a manifest-CAS
    loser's staged data is intact and recommittable. The claim is
    released on commit (_append_manifest) and on terminal conflict;
    a claim orphaned by a crash burns its id (ids are never reused
    while a claim file exists) only until the claim LEASE expires
    (round 14: spark.agni.manifest.claimLeaseSec, default 6 h) —
    every claim records its birth `ts`, and expired orphans are
    auto-reclaimed during normal claim probing and by default vacuum;
    vacuum_index(reclaim_claims=True) remains the manual force-all
    override for claims younger than the lease.

    `batch_id` (streaming): the claim file records the micro-batch id
    so a REPLAY of a crashed attempt ADOPTS its own claim instead of
    burning a new id — preserving the round-12 replay contract
    (same id, dynamic partition overwrite replaces the crashed
    files). Sound under the existing one-streaming-writer-per-index
    contract (_max_applied_batch assumes it too).

    Clears any uncommitted debris under the claimed id (a crashed
    pre-claim-era writer, or a crashed attempt this claim adopts)
    before returning — safe precisely because the id is now held
    exclusively."""
    import json

    from agni_spark.sources.layout import _hfs

    base = f"{path}/manifest"
    fs, P = _hfs(spark, base)
    _require_cas(spark, fs, P, base)
    committed = {int(c) for c, _ in rows}
    # ONE claim listing serves the adoption scan, the expiry sweep and
    # the candidate computation (round 14: fewer filesystem RPCs per
    # append — the claim path runs on every commit)
    claimed_now = set(_claimed_ids(spark, path))
    if batch_id is not None:
        for cid in sorted(claimed_now):
            if cid in committed or cid == adopt_exclude:
                # adopt_exclude: an OCC renumber must not re-adopt the
                # very claim it is renumbering away from (same batch
                # id) — adoption would clear its own staged data
                continue
            try:
                doc = json.loads(
                    _read_small_file(spark, f"{base}/.claim-{cid}")
                )
            except Exception:
                continue
            if doc.get("batch_id") == int(batch_id) and (
                doc.get("app_id") == app_id
            ):
                # adopt the crashed attempt's claim — and its owner
                # token, so the commit-time ownership check passes
                if doc.get("owner") is not None:
                    _CLAIM_OWNERS[(path, cid)] = doc["owner"]
                _clear_uncommitted_commit(spark, path, subdirs, cid)
                return cid
    # lease-based orphan recovery (round 14): drop expired claims so
    # crashed writers stop burning ids — AFTER the adoption check, so
    # a slow replay still adopts its own old claim instead of losing
    # it to expiry
    claimed_now -= set(
        _reclaim_expired_claims(spark, path, committed, sorted(claimed_now))
    )
    import time as _time
    import uuid as _uuid

    claim_doc = {"ts": round(_time.time(), 3), "owner": _uuid.uuid4().hex}
    if batch_id is not None:
        claim_doc["batch_id"] = int(batch_id)
        if app_id is not None:
            claim_doc["app_id"] = app_id
    payload = json.dumps(claim_doc).encode("utf-8")
    cand = max(committed | claimed_now, default=-1) + 1
    for _ in range(_CLAIM_MAX_PROBES):
        try:
            out = fs.create(P(f"{base}/.claim-{cand}"), False)
        except Exception as e:
            if "FileAlreadyExistsException" not in str(e) and (
                "already exists" not in str(e)
            ):
                raise
            cand = max(
                {cand} | committed | set(_claimed_ids(spark, path))
            ) + 1
            continue
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        _CLAIM_OWNERS[(path, cand)] = claim_doc["owner"]
        _clear_uncommitted_commit(spark, path, subdirs, cand)
        return cand
    raise RuntimeError(
        f"could not claim a commit id at {path} after "
        f"{_CLAIM_MAX_PROBES} probes — claim churn this high means "
        "something is spinning; inspect manifest/.claim-* files"
    )


def _release_claim(spark, path: str, nxt: int) -> None:
    """Drop this writer's claim file (post-commit, or on terminal
    conflict where the staged data is already debris). Best-effort:
    a failed delete only delays reclaim until vacuum."""
    from agni_spark.sources.layout import _hfs

    _CLAIM_OWNERS.pop((path, int(nxt)), None)
    target = f"{path}/manifest/.claim-{int(nxt)}"
    try:
        fs, P = _hfs(spark, target)
        fs.delete(P(target), False)
    except Exception:
        pass


def _renumber_staged_commit(
    spark, path: str, subdirs: list, old: int, new: int
) -> None:
    """Move a staged-but-uncommitted commit from `commit=old` to
    `commit=new` (OCC retry after a racer committed a HIGHER id):
    manifest commit-id lists must stay monotone — every new commit id
    exceeds all previously committed ids — or `as_of=N` would stop
    being a stable snapshot (a smaller id landing later would change
    what a past as_of serves). Both ids are held exclusively by this
    writer (claims), and neither is manifest-listed, so a partial
    move crashes into ordinary unreferenced debris — never into
    served state. Data subdirs move by rename (safe here even on
    copy+delete object stores: the data is invisible either way and
    the manifest CAS, not the rename, is the commit point); the
    tombstones subdir is REWRITTEN instead, because a scoped
    tombstone's `horizon` column equals the staging id and must
    follow it — after renumbering, horizon=new also hides the
    racer's same-key rows committed between old and new, which is
    exactly last-writer-wins by commit id. Graph-family note: a
    staged `meta/commit=old` carries a degree bound computed against
    the pre-race base; concurrent appends may each add only their own
    delta (slight under-estimate of the true post-merge bound — the
    walk treats it as a budget and fails loud, never wrong; the next
    compact_graph_index recomputes it exactly)."""
    from agni_spark.sources.layout import (
        _fs_delete,
        _fs_exists,
        _fs_rename,
    )

    for sub, _routing in subdirs:
        src = f"{path}/{sub}/commit={int(old)}"
        dst = f"{path}/{sub}/commit={int(new)}"
        if not _fs_exists(spark, src):
            continue
        if sub == "tombstones":
            df = spark.read.parquet(src)
            if "horizon" in df.columns:
                df = df.withColumn(
                    "horizon",
                    F.when(
                        F.col("horizon") == int(old),
                        F.lit(int(new)).cast("long"),
                    ).otherwise(F.col("horizon")),
                )
            df.repartition(1).write.mode("overwrite").parquet(dst)
            _fs_delete(spark, src)
        elif not _fs_rename(spark, src, dst):
            raise RuntimeError(
                f"renumbering staged commit failed: {src} -> {dst}"
            )


def _write_index_manifest(
    spark, path: str, commits: list[int],
    batch_ids: dict[int, int] | None = None,
    expected_version: int | None = None,
    applied: dict[str, int] | None = None,
) -> None:
    """Commit marker (block-store registry pattern): the manifest lists
    the committed `commit=` partitions and is written LAST, after the
    data lands. Readers filter to manifest-listed commits, so a crashed
    append's partial partition is never served.

    SINGLE-FILE VERSIONED COMMIT (round 12, the Delta-log commit-file
    idiom): each write lands ONE new file `manifest/v=N.json` via
    `FileSystem.create(path, overwrite=false)`; readers resolve the
    newest PARSEABLE version. This replaces the round-11 dir-rename
    swap, whose atomicity claim held only on rename-atomic filesystems
    (local/HDFS) — on s3a rename is copy+delete, so a racing reader
    could list a partial `v=N` and two writers could both "win". The
    single-file commit needs NO rename anywhere: on S3 a PUT is
    atomic-visibility (the object appears complete or not at all), on
    HDFS/local create-no-overwrite is the exact CAS, and on object
    stores the connector must map overwrite=false to a conditional
    (If-None-Match) PUT — _require_cas probes for that and REFUSES
    stores where create-no-overwrite is a mere HEAD check (the
    round-12 old-s3a caveat, now enforced behavior; config overrides
    in ManifestUnsafeStoreError). The losing racer's create throws
    and surfaces as ManifestConflictError; since round 13 each
    writer's staged data sits under an exclusively-claimed commit id,
    so append/upsert/delete callers RETRY through _append_manifest
    instead of re-running.

    `expected_version` (round 13) anchors the CAS to the manifest
    version this writer's `commits` list derives from — the Delta
    protocol's expected-version check. Without it, a writer that
    listed versions at write time could land max+1 with a STALE list,
    silently un-committing a commit that raced in between read and
    write (detection previously covered only the narrow
    list-to-create window). With it: a parseable version above
    `expected_version` at write time → conflict BEFORE the create; a
    post-close re-resolve catches the symmetric stall (this writer's
    create stalled long enough that a racer treated its slot as dead
    debris and skipped over it → conflict, the caller's retry
    recommits). None (builds, fresh clones, direct tests) keeps the
    round-12 write-time slot choice.

    A writer crashing between create and close leaves a truncated
    `v=N.json`; readers skip it (fall back to the newest version that
    parses) exactly as if the commit never landed, and a later writer
    — after a short grace wait for an in-flight close — claims the
    next free slot, so the debris never blocks progress; vacuum_index
    reclaims it once superseded. Old versions are one-file history
    until vacuum GCs them; legacy round-11 `v=N/` parquet dirs remain
    readable.

    `batch_ids` maps commit -> the streaming micro-batch id that
    produced it (None for batch-API commits). Recording it IN the
    manifest makes the (data, provenance) pair commit atomically: a
    replayed foreachBatch whose previous attempt DID reach the
    manifest (crash between manifest write and checkpoint commit) sees
    its batch id already applied and skips — the idempotent-sink
    bookkeeping dynamic partition overwrite alone cannot provide."""
    import json
    import time

    from agni_spark.sources.layout import _hfs

    bids = batch_ids or {}
    base = f"{path}/manifest"
    fs, P = _hfs(spark, base)
    _require_cas(spark, fs, P, base)
    doc = {
        "commits": sorted(int(c) for c in commits),
        "batch_ids": {
            str(int(c)): int(b) for c, b in bids.items() if b is not None
        },
    }
    if applied:
        # per-app replay watermarks (see _manifest_snapshot) — written
        # only when present so pre-round-13 manifests stay byte-shaped
        doc["applied"] = {str(k): int(v) for k, v in applied.items()}
    payload = json.dumps(doc, sort_keys=True).encode("utf-8")

    def _stale_check(entries=None):
        if expected_version is None:
            return
        cur, _ = _resolve_manifest(spark, path, entries=entries)
        if (cur if cur is not None else 0) != int(expected_version):
            raise ManifestConflictError(
                f"manifest at {path} advanced past the version this "
                f"writer read (expected v={expected_version}, now "
                f"v={cur}); its commit list is stale"
            )

    # one listStatus feeds both the stale check and the slot choice
    # (round 14 — the write path previously listed the manifest twice
    # before its create); collision retries below re-list fresh
    entries0 = _manifest_entries(spark, path)
    _stale_check(entries0)
    vers = [v for v, _, _ in entries0]
    nxt_v = (max(vers) + 1) if vers else 1
    if expected_version is not None:
        nxt_v = max(nxt_v, int(expected_version) + 1)
    for _slot_try in range(4):
        conflict = ManifestConflictError(
            f"manifest v={nxt_v} at {path} was committed by a "
            "concurrent writer (append/upsert/delete retry this "
            "internally; if it surfaced, re-run the operation — the "
            "staged commit is unreferenced debris until then and "
            "vacuum_index reclaims it)"
        )
        # a legacy v=N parquet DIR from a round-11 writer claims the
        # slot too — the single-file create can't CAS against a dir
        if fs.exists(P(f"{base}/v={nxt_v}")):
            raise conflict
        try:
            out = fs.create(P(f"{base}/v={nxt_v}.json"), False)
        except Exception as e:  # py4j surfaces FileAlreadyExistsException
            if not (
                "FileAlreadyExistsException" in str(e)
                or "already exists" in str(e)
            ):
                raise
            # slot occupied. A PARSEABLE occupant is a real commit →
            # conflict. An unparseable one is either a writer mid-close
            # (grace-wait for it) or create-then-crash debris — debris
            # must not block progress (and must NOT be deleted: a
            # mid-close writer's file may look identical), so skip to
            # the next free slot after re-checking staleness.
            occupied = f"{base}/v={nxt_v}.json"
            parseable = False
            for _grace in range(3):
                try:
                    json.loads(_read_small_file(spark, occupied))
                    parseable = True
                    break
                except Exception:
                    time.sleep(0.05)
            if parseable:
                raise conflict from e
            _stale_check()
            vers = _manifest_versions(spark, path)
            nxt_v = max([nxt_v] + vers) + 1
            continue
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        # post-close verify: if this writer stalled mid-close long
        # enough that a racer skipped over its slot as dead debris,
        # a higher version exists whose list omits our commits —
        # surface as a conflict so the caller's retry recommits them.
        # A higher version that CONTAINS our commits is ordinary
        # history (someone committed on top of us).
        cur2, rows2 = _resolve_manifest(spark, path)
        if cur2 is not None and cur2 > nxt_v:
            if not {int(c) for c in commits} <= {c for c, _ in rows2}:
                # best-effort: remove our own just-written v=N.json
                # before surfacing — it was skipped over and never
                # served (readers resolve cur2 > it), so deleting it
                # keeps history to versions that were ever the truth
                # instead of leaving a parseable mid-history file
                # listing a commit that was never committed (round
                # 14, per the r13 advice)
                try:
                    fs.delete(P(f"{base}/v={nxt_v}.json"), False)
                except Exception:
                    pass
                raise ManifestConflictError(
                    f"manifest v={nxt_v} at {path} was skipped over "
                    "while this writer stalled mid-commit; a newer "
                    "version omits its commits — retry recommits them"
                )
        return
    raise ManifestConflictError(
        f"manifest at {path}: no free version slot found after 4 "
        "probes (sustained debris churn); inspect manifest/"
    )


def _manifest_snapshot(
    spark, path: str, entries: list | None = None
) -> tuple[int | None, list[tuple[int, int | None]], dict[str, int]]:
    """(serving_version, rows, applied) — the newest PARSEABLE
    manifest version, its (commit, batch_id|None) pairs sorted by
    commit, and the PER-APPLICATION replay watermark map (round 13,
    the Delta `txn` appId/version idiom): applied[app_key] = the max
    micro-batch id that application has committed, where "" keys the
    default writer. The map is what lets TWO different streams
    maintain ONE index — a single global max batch id would silently
    skip a second stream whose ids start lower — and compaction
    carries it verbatim so watermarks survive the fold. Manifests
    written before the map existed (and legacy parquet-dir/flat
    manifests) derive {"" : max(batch_ids)} — exactly the old global
    check, so behavior is unchanged until an app-id writer appears.

    Versions that fail to parse (a truncated `v=N.json` from a writer
    that crashed between create and close) are skipped: the commit
    never happened, readers serve the version below. serving_version
    is None when only a legacy flat manifest exists. Within one
    version number a `.json` file outranks a legacy dir (coexistence
    is only possible via a race the round-11 mechanism could not
    detect)."""
    import json

    def _dir_rows(src):
        df = spark.read.parquet(src)
        has_bid = "batch_id" in df.columns
        return sorted(
            (int(r.commit),
             int(r.batch_id) if has_bid and r.batch_id is not None else None)
            for r in df.collect()
        )

    def _legacy_applied(rows):
        bids = [b for _, b in rows if b is not None]
        return {"": max(bids)} if bids else {}

    if entries is None:
        entries = _manifest_entries(spark, path)
    for ver, name, is_file in sorted(
        entries, key=lambda e: (e[0], e[2]), reverse=True
    ):
        try:
            if is_file:
                doc = json.loads(
                    _read_small_file(spark, f"{path}/manifest/{name}")
                )
                bids = doc.get("batch_ids") or {}
                rows = sorted(
                    (int(c), int(bids[str(c)]) if str(c) in bids else None)
                    for c in doc["commits"]
                )
                applied = (
                    {str(k): int(v) for k, v in doc["applied"].items()}
                    if "applied" in doc
                    else _legacy_applied(rows)
                )
                return ver, rows, applied
            rows = _dir_rows(f"{path}/manifest/{name}")
            return ver, rows, _legacy_applied(rows)
        except Exception:
            continue  # truncated/partial version — serve the one below
    rows = _dir_rows(f"{path}/manifest")
    return None, rows, _legacy_applied(rows)


def _resolve_manifest(
    spark, path: str, entries: list | None = None
) -> tuple[int | None, list[tuple[int, int | None]]]:
    """(serving_version, rows) — see _manifest_snapshot (this is the
    reader-side view; writers use the snapshot to carry the applied
    map through their rewrite). `entries` forwards a pre-fetched
    _manifest_entries listing so hot write paths spend one listStatus,
    not two (round 14)."""
    ver, rows, _ = _manifest_snapshot(spark, path, entries=entries)
    return ver, rows


def _manifest_rows(spark, path: str) -> list[tuple[int, int | None]]:
    return _resolve_manifest(spark, path)[1]


def _committed(spark, path: str) -> list[int]:
    return [c for c, _ in _manifest_rows(spark, path)]


def _snapshot_commits(
    spark, path: str, as_of: int | None = None
) -> list[int]:
    """The commit list a handle opened `as_of=N` serves: the
    manifest-committed commits with id <= N — TIME TRAVEL over the
    commit-partition idiom (Delta/Iceberg `VERSION AS OF` semantics,
    re-expressed on the manifest-last layout every stored index here
    shares). Because data, tombstones, and versioned meta all land in
    `commit=` partitions and every reader filters on the handle's
    commit list, pinning the list IS the whole feature: an as-of
    handle serves exactly the state after commit N — later appends,
    upserts (and the tombstones that hide their predecessors), and
    deletes are all invisible, consistently.

    History window: compaction REWRITES commits <= N into a single new
    id and drops them from the manifest, so an as-of older than the
    last compaction is gone — exactly the retention contract
    lakehouse time travel has (VACUUM limits history). That case
    raises instead of silently serving the wrong snapshot."""
    commits = _committed(spark, path)
    if as_of is None:
        return commits
    if commits and int(as_of) > max(commits):
        # Delta/Iceberg `VERSION AS OF` errors on a nonexistent
        # version; silently serving HEAD for a typo'd as_of would read
        # the wrong snapshot with no signal
        raise ValueError(
            f"as_of={as_of} exceeds the newest committed commit of "
            f"{path} (committed: {commits}) — pass a committed id or "
            "omit as_of to read HEAD"
        )
    snap = [c for c in commits if c <= int(as_of)]
    if not snap:
        raise ValueError(
            f"as_of={as_of} predates every committed commit of {path} "
            f"(committed: {commits}) — history before the last "
            "compaction is not retained"
        )
    return snap


def _max_applied_batch(rows: list[tuple[int, int | None]]) -> int | None:
    bids = [b for _, b in rows if b is not None]
    return max(bids) if bids else None


def _applied_watermark(applied: dict[str, int], app_id) -> int | None:
    """The replay watermark for ONE application (see
    _manifest_snapshot): the max micro-batch id that app has
    committed, or None if it never wrote. app_id None = the default
    writer (map key \"\")."""
    return applied.get(app_id if app_id is not None else "")


def _bump_applied(
    applied: dict[str, int], app_id, batch_id: int | None
) -> dict[str, int]:
    """The applied map a commit carrying (app_id, batch_id) writes:
    the prior map with that app's watermark advanced. Monotone by
    construction (foreachBatch ids are monotone per query)."""
    if batch_id is None:
        return dict(applied)
    key = app_id if app_id is not None else ""
    out = dict(applied)
    out[key] = max(int(batch_id), out.get(key, int(batch_id)))
    return out


def _append_manifest(
    spark, path: str, rows: list, nxt: int, batch_id: int | None = None,
    subdirs: list | None = None, read_version: int | None = None,
    app_id: str | None = None, applied: dict[str, int] | None = None,
) -> int | None:
    """Manifest rewrite for an append: commits + the new id, PRESERVING
    every recorded (commit, batch_id) provenance pair — an append of a
    different kind on the same index must never erase the streaming
    replay bookkeeping.

    OCC RETRY (round 13): when `subdirs` is given (the staged layout,
    same list the caller claimed against) and the CAS loses, the
    append does NOT abort — two independent appends to one index
    don't conflict semantically. It re-reads the manifest, and
    (a) if the racer committed a HIGHER id, renumbers its own staged
    commit above it (_renumber_staged_commit — keeps manifest id
    lists monotone, so as_of snapshots stay stable), then
    (b) re-attempts the CAS with the fresh commit list at the fresh
    version, up to _OCC_MAX_ATTEMPTS before surfacing
    ManifestConflictError. The staged data itself is never re-written
    — exclusivity of the claimed id is what makes the retry sound.
    Returns the FINAL commit id (it changes under renumbering), or
    None when a replay race shows this micro-batch already applied.
    `read_version` anchors the CAS to the version the caller's `rows`
    came from (see _write_index_manifest); pass it from every real
    writer. `app_id`/`applied` thread the per-application replay
    watermarks (Delta `txn` semantics, see _manifest_snapshot): the
    commit advances ITS app's watermark and preserves every other
    app's — two independent streams can maintain one index."""
    applied = dict(applied or {})
    for attempt in range(_OCC_MAX_ATTEMPTS):
        commits = [c for c, _ in rows]
        bids = {c: b for c, b in rows if b is not None}
        if batch_id is not None:
            bids[nxt] = int(batch_id)
        new_applied = _bump_applied(applied, app_id, batch_id)
        # OUTSIDE the try: lease loss must surface, never enter the
        # OCC retry (the reclaimed id's staging may already be cleared
        # by its new holder — a renumber would move nothing and commit
        # an empty id)
        _verify_claim_held(spark, path, nxt)
        try:
            _write_index_manifest(
                spark, path, commits + [nxt], bids or None,
                expected_version=read_version,
                applied=new_applied or None,
            )
            _release_claim(spark, path, nxt)
            return nxt
        except ManifestConflictError:
            if subdirs is None or attempt == _OCC_MAX_ATTEMPTS - 1:
                _release_claim(spark, path, nxt)
                raise
        read_version, rows, applied = _manifest_snapshot(spark, path)
        read_version = read_version if read_version is not None else 0
        fresh = [c for c, _ in rows]
        if nxt in fresh:
            # only a pre-claim-era writer can commit an id this writer
            # holds a claim on — out of contract, abort loudly
            _release_claim(spark, path, nxt)
            raise ManifestConflictError(
                f"commit id {nxt} at {path} was committed by a writer "
                "that bypassed the claim protocol; refusing to retry"
            )
        if batch_id is not None:
            wm = _applied_watermark(applied, app_id)
            if wm is not None and batch_id <= wm:
                # a concurrent replay of the SAME micro-batch of the
                # SAME app won the race — this staging is a duplicate
                _clear_uncommitted_commit(spark, path, subdirs, nxt)
                _release_claim(spark, path, nxt)
                return None
        if fresh and max(fresh) > nxt:
            new_id = _claim_commit_id(
                spark, path, rows, subdirs, batch_id=batch_id,
                app_id=app_id, adopt_exclude=nxt,
            )
            _renumber_staged_commit(spark, path, subdirs, nxt, new_id)
            _release_claim(spark, path, nxt)
            nxt = new_id
    raise AssertionError("unreachable")  # loop exits via return/raise


def _clear_uncommitted_commit(
    spark, path: str, subdirs: list, nxt: int
) -> None:
    """Delete any UNCOMMITTED `commit=nxt` directory before writing
    one: a crashed compact_index (or a crashed raw-append) can leave a
    full data copy under the id this writer is about to reuse —
    compaction and the appends share the max(committed)+1 id space —
    and dynamic partition overwrite only replaces the partitions THIS
    write produces, so the leftover's other partitions would be served
    the moment the manifest commits the id. Safe by the manifest-last
    contract: an id absent from the manifest is invisible to every
    reader, so deleting its directory can never lose committed data."""
    from agni_spark.sources.layout import _fs_delete, _hfs

    for sub, _routing in subdirs:
        target = f"{path}/{sub}/commit={nxt}"
        fs, P = _hfs(spark, target)
        if fs.exists(P(target)):
            _fs_delete(spark, target)


# stored-index subdir layouts: (subdir, routing partition column) — the
# shared commit-partition convention every stored index here uses
IVF_INDEX_SUBDIRS = [("cells", "centroid_id")]
SQ_INDEX_SUBDIRS = [("codes", "centroid_id")]
BQ_INDEX_SUBDIRS = [("codes", "centroid_id")]
# `vectors/` is OPTIONAL (write_pq_index(store_vectors=True)) —
# compact/vacuum skip absent subdirs
PQ_INDEX_SUBDIRS = [("codes", "centroid_id"), ("vectors", "centroid_id")]
GRAPH_INDEX_SUBDIRS = [("edges", "bucket"), ("nodes", "bucket")]
# `positions/` is OPTIONAL (write_text_index(positions=True)) — like
# the PQ layout's vectors/, compact/vacuum skip it when absent
TEXT_INDEX_SUBDIRS = [
    ("postings", "bucket"),
    ("doclens", None),
    ("positions", "bucket"),
]
MINHASH_INDEX_SUBDIRS = [("sigs", None), ("buckets", "band")]


def _commit(
    spark, path: str, staged: list, stage, batch_id: int | None = None,
    app_id: str | None = None, scoped: tuple | None = None,
    race_hook=None,
) -> int | None:
    """The ONE write-commit sequence of every stored-index append,
    upsert and delete — the block store's marker-key-last rule (data
    first, then the manifest entry that makes it visible):

    1. snapshot the manifest (serving version, commit rows, per-app
       replay watermarks, see _manifest_snapshot);
    2. replay check: a streaming micro-batch this app already
       committed (batch_id <= its watermark) returns None BEFORE
       anything is written — a blind replay of an upsert would re-land
       its tombstone under a new id and hide its own earlier rows;
    3. claim an EXCLUSIVE commit id against `staged`, the exact subdir
       layout this write stages (claim-time debris clearing and the
       OCC renumber move exactly these). The claim records
       (batch_id, app_id), so a replay of a crashed attempt adopts its
       own claim and its dynamic-partition-overwrite staging replaces
       the crashed files — exactly-once under replay;
    4. `scoped=(ids, id_col)` (upserts): the horizon-scoped tombstone
       under the claimed id (see _write_tombstones);
    5. `stage(nxt, commits)`: the family callback that writes the
       `commit=nxt` partitions, given the snapshot's committed ids;
    6. `race_hook()`: the deterministic fault-injection seam — it runs
       after read, claim and staging but BEFORE the manifest CAS, so
       concurrency tests and the *_concurrent_* oracle rows commit a
       racing writer here and force the OCC retry path without
       wall-clock-dependent thread interleaving;
    7. _append_manifest: the commit point, with OCC retry.

    Returns the final commit id (it changes under an OCC renumber), or
    None when the micro-batch was already applied."""
    ver, rows, applied = _manifest_snapshot(spark, path)
    wm = _applied_watermark(applied, app_id)
    if batch_id is not None and wm is not None and batch_id <= wm:
        return None
    nxt = _claim_commit_id(
        spark, path, rows, staged, batch_id=batch_id, app_id=app_id
    )
    if scoped is not None:
        _write_tombstones(scoped[0], path, scoped[1], nxt, horizon=nxt)
    stage(nxt, [c for c, _ in rows])
    if race_hook is not None:
        race_hook()
    return _append_manifest(
        spark, path, rows, nxt, batch_id=batch_id, subdirs=staged,
        read_version=ver if ver is not None else 0,
        app_id=app_id, applied=applied,
    )


def _write_commit(
    df: DataFrame, path: str, sub: str, routing: str, commit: int,
    build: bool = False,
) -> None:
    """Land `df` as the `commit=` partition of `{path}/{sub}`, clustered
    on its routing column. A build overwrites the whole subdir; every
    later writer uses dynamic partition overwrite, so a replay that
    adopted its crashed attempt's claim replaces that attempt's files
    instead of doubling rows."""
    w = (
        df.withColumn("commit", F.lit(commit).cast("long"))
        .repartition(routing)
        .write.partitionBy("commit", routing)
    )
    if not build:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.mode("overwrite").parquet(f"{path}/{sub}")


def _commit_sizes(spark, path: str, primary: str, commits: list) -> dict:
    """{commit: bytes on disk of its `commit=` partition in the
    PRIMARY data subdir}. Pure filesystem metadata (getContentSummary
    per commit dir — one namenode/liststatus call each, no data
    read), so sizing the commit set costs O(#commits) RPCs, never a
    scan. A commit with no partition in the primary subdir (a
    tombstone-only delete commit) counts as 0 bytes."""
    from agni_spark.sources.layout import _hfs

    fs, P = _hfs(spark, f"{path}/{primary}")
    out = {}
    for c in commits:
        d = P(f"{path}/{primary}/commit={int(c)}")
        try:
            out[c] = (
                fs.getContentSummary(d).getLength() if fs.exists(d) else 0
            )
        except Exception:
            out[c] = 0
    return out


def _small_commits(
    spark, path: str, primary: str, commits: list, small_bytes: int
) -> list:
    """The manifest-listed commits whose `commit=` partition in the
    PRIMARY data subdir holds fewer than `small_bytes` bytes on disk —
    the minor-compaction fold set. Zero-byte commits (tombstone-only
    deletes) always qualify — exactly right: those are the tiny
    commits minor compaction exists to absorb."""
    sizes = _commit_sizes(spark, path, primary, commits)
    return [c for c in commits if sizes[c] < small_bytes]


def maintain_index(
    spark,
    path: str,
    subdirs: list,
    max_commits: int = 8,
    vacuum: bool = False,
) -> int:
    """AUTO-MAINTENANCE policy over compact_index — the piece that
    makes a continuously-appended index self-tending instead of
    operator-scheduled (the lakehouse auto-OPTIMIZE idiom). When the
    manifest lists more than `max_commits` commits, run a MINOR fold
    with an AUTO threshold: the mean commit size in the primary data
    subdir. Below-mean commits (a stream's tiny appends, tombstone-
    only deletes) fold; at-or-above-mean commits (the big base
    build, earlier folds) survive in place — with one large base and
    k small appends the mean always separates them, so steady-state
    cost is O(new-data) per maintenance cycle, never an
    O(total-index) rewrite. Sizing is filesystem metadata only
    (O(#commits) RPCs); under the trigger nothing is read at all.

    Contention-tolerant by design: a ManifestConflictError from a
    racing writer (after compact_index's own bounded retry) is
    SWALLOWED and reported as -1 — maintenance is advisory, the next
    cycle retries, and the losing attempt's staged debris is cleared
    by vacuum or the next claimer of its id. `vacuum=True` also
    clears the folded originals after a successful fold (off by
    default: under concurrent writers prefer a separate, rarer
    vacuum schedule). Returns the new commit id, or -1 when nothing
    was done (under threshold, nothing qualified, or conflict).

    Not for the graph family: graph compaction rebuilds upper layers
    and stays full-only via compact_graph_index."""
    _, rows, _ = _manifest_snapshot(spark, path)
    commits = [c for c, _ in rows]
    if len(commits) <= int(max_commits):
        return -1
    sizes = _commit_sizes(spark, path, subdirs[0][0], commits)
    thresh = sum(sizes.values()) / max(len(sizes), 1)
    if thresh <= 0:
        return -1
    try:
        nxt = compact_index(spark, path, subdirs, small_bytes=thresh)
    except ManifestConflictError:
        return -1
    if nxt >= 0 and vacuum:
        vacuum_index(spark, path, subdirs)
    return nxt


def compact_index(
    spark, path: str, subdirs: list, small_bytes: int | None = None
) -> int:
    """Compact a stored index (see _compact_index_once for the full
    mechanism). ONE bounded retry on conflict (round 14): a writer
    committing during the fold aborts the attempt (compaction rewrites
    history and cannot merge — a concurrent upsert's horizon could
    resurrect folded rows), but instead of surfacing immediately the
    compact recomputes ONCE against the fresh manifest, so compaction
    can coexist with steady append traffic; a second loss aborts
    loudly with ManifestConflictError and the caller picks a quieter
    window. The losing attempt's staged fold is unreferenced debris
    (claim released; vacuum or the next claimer of the id clears
    it).

    `small_bytes` (round 14) selects MINOR compaction — the LSM /
    lakehouse-OPTIMIZE small-file fold: only commits whose primary
    data subdir is under `small_bytes` on disk are folded into the
    new commit; larger commits survive in place, manifest rows (and
    their streaming batch-id provenance) intact. A steady append
    stream leaves many tiny commits, and at scale the full fold is an
    O(total-index) rewrite just to absorb them — minor compaction is
    O(new-data). Tombstones committed by folded commits are CARRIED
    (re-stamped onto the new commit, horizons verbatim), never
    consumed: they may target rows in the surviving commits, which
    this fold does not rewrite. Returns -1 when fewer than two
    commits qualify (nothing folded, manifest untouched)."""
    try:
        return _compact_index_once(spark, path, subdirs, small_bytes)
    except ManifestConflictError:
        return _compact_index_once(spark, path, subdirs, small_bytes)


def _compact_index_once(
    spark, path: str, subdirs: list, small_bytes: int | None = None
) -> int:
    """Compact a stored index's committed `commit=` partitions into ONE
    new commit — the index-tier twin of the block store's compaction.
    Every append leaves its own commit partition, so a long-lived index
    accumulates commits and each probe unions N partition dirs (and N
    small-file sets); compaction rewrites the committed data into
    commit = max+1, re-clustered on the routing column, and swaps the
    manifest LAST. Crash-safe by the same marker-last argument as
    build/append: until the manifest rewrite lands, readers serve the
    old commits and the half-written new partition is invisible; after
    it lands, the old commits are orphans for `vacuum_index`. Probe
    results are identical before and after (test-pinned).

    `subdirs` is a list of (subdir, routing_col_or_None) — use the
    *_INDEX_SUBDIRS presets. Returns the new commit id (or the sole
    existing commit when there is nothing to compact).

    With `small_bytes` set this is a MINOR fold (see compact_index):
    only commits under the size threshold in the primary subdir are
    rewritten; the rest keep their manifest rows and batch-id
    provenance, and the folded commits' tombstones are carried onto
    the new commit (horizons verbatim) because they may still hide
    rows in the surviving commits. The graph family is excluded —
    compact_graph_index rebuilds upper layers and stays full-only."""
    ver, rows, applied_map = _manifest_snapshot(spark, path)
    commits = [c for c, _ in rows]
    if len(commits) <= 1:
        return commits[0] if commits else -1
    fold = commits
    minor = small_bytes is not None
    if minor:
        fold = _small_commits(spark, path, subdirs[0][0], commits,
                              int(small_bytes))
        if len(fold) < 2:
            return -1
    survive = [c for c in commits if c not in set(fold)]
    # claim the folded commit's id EXCLUSIVELY (round 13): a
    # concurrent append can then never stage into it, and the claim
    # clears any CRASHED earlier compact's uncommitted leftover under
    # the id — without the clear, the append-mode writes below would
    # double its rows and the final manifest swap would serve them.
    # `meta` is included defensively: a crashed compact_graph_index
    # also leaves a versioned meta/commit=N (entries + degree bound
    # for the fold IT was building) which this byte-preserving compact
    # must not let the manifest swap activate — the crashed bound was
    # computed over rebuilt upper layers, not the carried-forward ones
    # this path commits. No-op for flat-meta families (dir absent).
    nxt = _claim_commit_id(
        spark, path, rows, subdirs + [("meta", None), ("tombstones", None)]
    )
    # PHYSICAL DELETE point (round 11, see delete_from_index): rows
    # matching a committed tombstone are dropped from every subdir
    # keyed by the tombstones' id column (vec_id for ivf/pq, doc_id
    # for text) during the fold, and the tombstones are CONSUMED (not
    # carried) once every subdir could be scrubbed. A subdir without
    # that column (the graph layout's node/dst edges —
    # compact_graph_index handles those itself) forces the tombstones
    # to carry forward instead, so a delete can never be silently
    # forgotten by a compaction that couldn't apply it.
    tombs = _tombstones(spark, path, commits)
    scrubbed_everywhere = tombs is not None
    for sub, routing in subdirs:
        # a large fold can legitimately run long: refresh the claim's
        # lease at every subdir boundary so a slow-but-live compact is
        # never mistaken for an orphan (best-effort — a transient
        # failure just lets the claim age toward the lease, and the
        # pre-swap _verify_claim_held still guards the commit)
        _renew_claim(spark, path, nxt)
        # OPTIONAL subdirs (e.g. the PQ layout's `vectors/`) may be
        # absent from a given index — skip, don't fail
        from agni_spark.sources.layout import _hfs

        fs, P = _hfs(spark, f"{path}/{sub}")
        if not fs.exists(P(f"{path}/{sub}")):
            continue
        # minor fold: rewrite ONLY the small commits; the scrub below
        # still uses the FULL tombstone view (a surviving commit's
        # tombstone can target a folded row)
        df = spark.read.parquet(f"{path}/{sub}").where(
            F.col("commit").isin(fold)
        )
        if "layer" in df.columns:
            # graph-family edges written before the HNSW `layer`
            # column existed read as NULL under the unified schema;
            # they ARE the base layer — normalize so the compacted
            # commit never bakes NULLs in (readers coalesce too, see
            # _layer0, but a compact is the natural place to heal)
            df = df.withColumn(
                "layer", F.coalesce(F.col("layer"), F.lit(0))
            )
        if tombs is not None:
            key = tombs.columns[0]  # vec_id / doc_id, per the layout
            if key in df.columns:
                # scrub BEFORE the commit re-stamp: the horizon-scoped
                # exclusion (upserts) compares against the row's
                # ORIGINAL commit — an upsert's replacement rows
                # survive, their hidden predecessors drop
                df = _anti_tombstones(df, tombs)
            else:
                scrubbed_everywhere = False
        df = df.drop("commit").withColumn(
            "commit", F.lit(nxt).cast("long")
        )
        part = ["commit"] + ([routing] if routing else [])
        if routing:
            shaped = df.repartition(F.col(routing))
        else:
            # routing-free subdirs (e.g. the text layout's doclens):
            # size the fold's output tasks by the folded bytes on disk
            # (~128 MB apiece) instead of a fixed repartition(1) — a
            # single-task rewrite of a corpus-proportional subdir is
            # exactly the kind of 100x-scale bottleneck the fold must
            # not have. Sizing is filesystem metadata (O(#commits)
            # RPCs via _commit_sizes), and at test scale it still
            # collapses to one task.
            fold_bytes = sum(
                _commit_sizes(spark, path, sub, fold).values()
            )
            shaped = df.repartition(
                max(1, min(512, int(fold_bytes // (128 << 20)) + 1))
            )
        # append-mode into the same root: only the NEW commit dir is
        # written; the source partitions are never replaced, so the
        # scan-while-write is safe
        shaped.write.partitionBy(*part).mode("append").parquet(
            f"{path}/{sub}"
        )
    if tombs is not None and not scrubbed_everywhere:
        # a HORIZON-SCOPED tombstone (upsert) cannot be carried: the
        # re-stamp just moved every surviving row to commit=nxt, which
        # is >= any horizon — the carried tombstone would silently stop
        # hiding the rows it was scoped to. No API path creates scoped
        # tombstones on a layout with an unscrubbable subdir (upserts
        # exist only for IVF/PQ/text, whose subdirs all carry the key
        # column), so refuse loudly rather than corrupt.
        if tombs.where(F.col("horizon") < _TOMB_INF).limit(1).count():
            raise ValueError(
                f"compact_index at {path}: horizon-scoped tombstones "
                "cannot be carried past a subdir without the key column"
            )
        (
            tombs.withColumn("commit", F.lit(nxt).cast("long"))
            .repartition(1)
            .write.partitionBy("commit")
            .mode("append")
            .parquet(f"{path}/tombstones")
        )
    if minor:
        # the FOLDED commits' tombstones always carry in a minor fold
        # — they may hide rows in the surviving commits, which this
        # fold did not rewrite. Re-stamped onto the new commit so the
        # manifest keeps listing them; horizons verbatim (a surviving
        # row hides iff its UNCHANGED commit < horizon, and the
        # restamped folded rows sit at commit=nxt >= every prior
        # horizon, already scrubbed of their hidden predecessors).
        # Surviving commits' tombstone partitions stay in place and
        # keep applying through their own manifest rows.
        tombs_fold = _tombstones(spark, path, fold)
        if tombs_fold is not None:
            (
                tombs_fold.withColumn("commit", F.lit(nxt).cast("long"))
                .repartition(1)
                .write.partitionBy("commit")
                .mode("append")
                .parquet(f"{path}/tombstones")
            )
    # carry the max applied streaming batch id onto the compacted
    # commit: the folded-in batches' provenance must survive
    # compaction, or a replayed micro-batch landing just after a
    # compact would re-append rows the compact already holds. Minor
    # folds carry only the FOLDED rows' max (the surviving rows keep
    # their own batch ids in the manifest).
    fold_set = set(fold)
    applied = _max_applied_batch([r for r in rows if r[0] in fold_set])
    new_commits = survive + [nxt]
    batch_map = {c: b for c, b in rows if c in set(survive) and b is not None}
    if applied is not None:
        batch_map[nxt] = applied
    try:
        # lease loss is loud here too: a fold slower than the claim
        # lease must not swap the manifest over a reclaimed id
        _verify_claim_held(spark, path, nxt)
        _write_index_manifest(
            spark, path, new_commits,
            batch_map or None,
            expected_version=ver if ver is not None else 0,
            applied=applied_map or None,
        )
    except ManifestConflictError:
        # a writer committed during the fold: the folded output no
        # longer covers the index, and compaction cannot merge
        # histories (a concurrent upsert's horizon could resurrect
        # folded rows), so THIS ATTEMPT aborts — the staged fold is
        # reclaimable debris. This anchor also closes the round-12
        # hole where a compact landing after a concurrent append
        # silently dropped the append's commit from the manifest.
        # Appends/upserts/deletes retry in place instead (they commit
        # deltas, not rewrites); compact_index re-runs the whole fold
        # once against the fresh manifest (round 14) before
        # surfacing.
        _release_claim(spark, path, nxt)
        raise
    _release_claim(spark, path, nxt)
    return nxt


def vacuum_index(
    spark, path: str, subdirs: list, reclaim_claims: bool = False,
    dry_run: bool = False,
) -> list[str]:
    """GC commit partitions ABSENT from the manifest: superseded
    pre-compaction commits and crashed-append debris. Hadoop FileSystem
    API (s3a-safe), O(#commits) listing per subdir; the manifest is
    untouched — vacuum removes only what no reader can see. Returns the
    removed `sub/commit=N` names. Mirrors layout.vacuum_store /
    frontend.ResultsCache.vacuum.

    CLAIM AWARENESS (round 13): an uncommitted `commit=N` whose
    `manifest/.claim-N` file exists belongs to an IN-FLIGHT writer
    (staging now, manifest CAS not yet attempted) — default vacuum
    must not destroy it, which NARROWS the round-12
    vacuum-during-append race to the per-delete recheck window: the
    claim's existence is re-probed immediately before each delete
    (round 14), so a writer that claims and stages DURING the scan is
    spared; only a claim landing inside the final exists-to-delete
    gap (single-digit milliseconds of filesystem RPCs) could still
    lose staging, and its commit CAS then fails loudly on the
    expected-version anchor rather than serving missing files. Claim
    files of COMMITTED ids are spent bookkeeping and always reclaim.

    LEASES (round 14): an uncommitted claim whose recorded `ts` is
    older than the claim lease (spark.agni.manifest.claimLeaseSec,
    default 6 h) is an orphan — default vacuum reclaims it AND its
    staged data automatically, so routine vacuums clean up crashes
    without the footgun flag. `reclaim_claims=True` remains the
    manual force-all override: it additionally reclaims claims
    YOUNGER than the lease — run that only when no writer is in
    flight (the same retention caveat as lakehouse VACUUM).
    `dry_run=True` returns what WOULD be removed without touching
    anything (lakehouse `VACUUM ... DRY RUN`) — the operator's
    preflight before a reclaim_claims pass, since that is the one
    destructive-if-misused knob in the lifecycle."""
    from agni_spark.sources.layout import _fs_delete as _rm
    from agni_spark.sources.layout import _hfs

    def _fs_delete(spark_, target):
        if not dry_run:
            _rm(spark_, target)

    committed = set(_committed(spark, path))
    claimed = set(_claimed_ids(spark, path))
    expired = set(
        _expired_claim_ids(spark, path, committed, sorted(claimed))
    )
    removed = []
    # tombstone dirs follow the same commit idiom (delete_from_index)
    # — a tombstone-consuming compaction leaves them manifest-orphaned
    # and they reclaim here like any superseded commit
    for sub, _ in subdirs + [("tombstones", None)]:
        base = f"{path}/{sub}"
        fs, P = _hfs(spark, base)
        if not fs.exists(P(base)):
            continue
        for st in fs.listStatus(P(base)):
            name = st.getPath().getName()
            if not name.startswith("commit="):
                continue
            cid = int(name.split("=", 1)[1])
            if cid in committed:
                continue
            if cid in claimed and not reclaim_claims and (
                cid not in expired
            ):
                continue  # an in-flight writer's staging — hands off
            if cid not in claimed and not reclaim_claims:
                # unclaimed at scan time — re-probe the claim
                # immediately before the delete (round 14): a writer
                # may have claimed and staged this id DURING the scan
                cfs, cP = _hfs(spark, f"{path}/manifest")
                if cfs.exists(
                    cP(f"{path}/manifest/.claim-{cid}")
                ) and cid not in expired:
                    continue
            _fs_delete(spark, f"{base}/{name}")
            removed.append(f"{sub}/{name}")
    # manifest history GC (versioned layout): delete ONLY versions
    # STRICTLY BELOW the one readers currently resolve (the newest
    # parseable), plus legacy flat manifest files once any version
    # supersedes them. Never touch names at or above the serving
    # version — a v=N landed by a concurrent writer between our
    # resolve and the delete loop is NEWER than keep and deleting it
    # would un-commit committed state — and never touch dot-prefixed
    # names (in-flight temp dirs from a pre-round-12 writer).
    serve, _ = _resolve_manifest(spark, path)
    if serve is not None:
        mbase = f"{path}/manifest"
        fs, P = _hfs(spark, mbase)
        by_name = {
            name: ver for ver, name, _ in _manifest_entries(spark, path)
        }
        for st in fs.listStatus(P(mbase)):
            name = st.getPath().getName()
            if name.startswith(".claim-"):
                try:
                    cid = int(name[len(".claim-"):])
                except ValueError:
                    continue
                # spent claims (id committed) always reclaim; expired
                # orphans (lease) reclaim by default; live uncommitted
                # claims only under reclaim_claims
                if cid in committed or reclaim_claims or cid in expired:
                    _fs_delete(spark, f"{mbase}/{name}")
                    removed.append(f"manifest/{name}")
                continue
            if name.startswith("."):
                continue
            if name in by_name and by_name[name] >= serve:
                continue
            # parsed version < serve, unparseable-version debris below
            # nothing (by_name misses it only if name isn't v=*), or a
            # legacy flat part file — all superseded by `serve`
            if name.startswith("v=") and name not in by_name:
                continue  # malformed v-name: skip, don't guess
            _fs_delete(spark, f"{mbase}/{name}")
            removed.append(f"manifest/{name}")
    return sorted(removed)


def index_stats(spark, path: str, subdirs: list) -> DataFrame:
    """Operational introspection of a stored index — the stored-index
    tier's /status endpoint: one row per PRESENT subdir with its
    committed-commit count and committed row count, plus a tombstones
    row when any tombstone commits exist (pending logical deletes/
    upserts a compaction would fold). Only manifest-committed
    partitions count, so crashed-writer debris is invisible here
    exactly as it is to probes. An UNCOMMITTED `.claim-N` (an
    in-flight writer mid-staging, or a crashed one whose debris
    vacuum_index(reclaim_claims=True) would reclaim) surfaces as a
    `claims` row — the one piece of non-committed state an operator
    needs to see (n_commits = live claim count, n_rows = 0; absent
    when there are none, so deterministic oracles are unaffected).

    Scale: one column-pruned count aggregation per subdir (the subdir
    list is a constant of the layout), each statically pruned to the
    committed commit dirs; only the per-subdir scalar totals reach the
    driver."""
    from agni_spark.sources.layout import _hfs

    commits = _committed(spark, path)
    rows = []
    for sub, _routing in list(subdirs) + [("tombstones", None)]:
        base = f"{path}/{sub}"
        fs, P = _hfs(spark, base)
        if not fs.exists(P(base)):
            continue
        # a vacuumed-empty dir has no commit= children — no parquet
        # footers to infer a schema from, and nothing to count
        if not any(
            st.getPath().getName().startswith("commit=")
            for st in fs.listStatus(P(base))
        ):
            continue
        agg = (
            spark.read.parquet(base)
            .where(F.col("commit").isin(commits))
            .agg(
                F.countDistinct("commit").alias("nc"),
                F.count(F.lit(1)).alias("nr"),
            )
            .first()
        )
        if int(agg.nr) > 0:
            rows.append((sub, int(agg.nc), int(agg.nr)))
    live_claims = [
        c for c in _claimed_ids(spark, path) if c not in set(commits)
    ]
    if live_claims:
        rows.append(("claims", len(live_claims), 0))
    return spark.createDataFrame(
        sorted(rows), "subdir string, n_commits int, n_rows long"
    )


def _clone_commit_subdirs(
    spark, src: str, dst: str, subdirs: list, commits: list[int]
) -> None:
    """The clone tier's shared core: fold the snapshot's committed
    `commit=` partitions of every present subdir into `commit=0` at a
    NEW path, scrubbing committed tombstones where the subdir carries
    the key column (a clone is a compacted snapshot copy — physical
    deletes applied, small files merged, re-clustered on the routing
    column). Tombstones that could not be applied everywhere carry
    into the clone verbatim IF global; horizon-scoped ones cannot
    survive the commit re-stamp (same argument as compact_index) and
    raise. The caller writes family meta + the manifest LAST, so a
    crashed clone leaves dst without a manifest — unopenable, never
    half-served."""
    from agni_spark.sources.layout import _hfs

    tombs = _tombstones(spark, src, commits)
    scrubbed_everywhere = tombs is not None
    for sub, routing in subdirs:
        fs, P = _hfs(spark, f"{src}/{sub}")
        if not fs.exists(P(f"{src}/{sub}")):
            continue
        df = spark.read.parquet(f"{src}/{sub}").where(
            F.col("commit").isin(commits)
        )
        if "layer" in df.columns:
            # normalize pre-HNSW NULL layers like compact does
            df = df.withColumn("layer", F.coalesce(F.col("layer"), F.lit(0)))
        if tombs is not None:
            key = tombs.columns[0]
            if key in df.columns:
                df = _anti_tombstones(df, tombs)
            else:
                scrubbed_everywhere = False
        df = df.drop("commit").withColumn("commit", F.lit(0).cast("long"))
        part = ["commit"] + ([routing] if routing else [])
        shaped = (
            df.repartition(F.col(routing)) if routing else df.repartition(1)
        )
        shaped.write.partitionBy(*part).mode("overwrite").parquet(
            f"{dst}/{sub}"
        )
    if tombs is not None and not scrubbed_everywhere:
        if tombs.where(F.col("horizon") < _TOMB_INF).limit(1).count():
            raise ValueError(
                f"clone of {src}: horizon-scoped tombstones cannot be "
                "carried past a subdir without the key column"
            )
        (
            tombs.withColumn("commit", F.lit(0).cast("long"))
            .repartition(1)
            .write.partitionBy("commit")
            .mode("overwrite")
            .parquet(f"{dst}/tombstones")
        )


def _copy_aux_dirs(spark, src: str, dst: str, aux: tuple) -> None:
    """Verbatim copy of a family's FLAT (non-commit-partitioned) model
    dirs — centroids / codebooks / bounds meta. Tiny by construction
    (the frozen quantizer), one single-file write each."""
    from agni_spark.sources.layout import _hfs

    for a in aux:
        fs, P = _hfs(spark, f"{src}/{a}")
        if not fs.exists(P(f"{src}/{a}")):
            continue
        spark.read.parquet(f"{src}/{a}").repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{a}")


def _clear_clone_dst(
    spark, dst: str, subdirs: list, aux: tuple = ()
) -> None:
    """Remove every family dir a clone could have left at dst before
    writing a new one. Without this, a re-clone into a dst holding an
    EARLIER clone keeps subdirs absent from the new snapshot (optional
    positions/vectors, a previously carried tombstones/commit=0 the
    new clone scrubs everywhere) and the fresh manifest ([0])
    immediately re-commits them — probes would serve stale rows or
    apply stale global tombstones. The manifest goes FIRST so dst is
    unopenable for the whole rewrite (same crash contract as a fresh
    clone); only family-known dirs are touched, never unrelated
    content at dst."""
    from agni_spark.sources.layout import _fs_delete, _fs_exists

    fam = ["manifest", "tombstones", "meta"]
    fam += [s for s, _ in subdirs] + list(aux)
    for d in dict.fromkeys(fam):
        if _fs_exists(spark, f"{dst}/{d}"):
            _fs_delete(spark, f"{dst}/{d}")


def clone_index(
    spark, src: str, dst: str, subdirs: list, aux: tuple = (),
    as_of: int | None = None,
) -> None:
    """CLONE a stored index: materialize the manifest-committed
    snapshot (optionally a historical one — `as_of=N` composes with
    time travel, i.e. 'branch the index as it stood after commit N')
    into a NEW independent path. The lakehouse DEEP CLONE operation
    (Delta `CREATE TABLE CLONE` semantics) on the shared
    commit-partition layout: the clone is a fully compacted copy —
    one commit, tombstones applied, small files folded — that shares
    no storage or future with the source (writes to either side never
    affect the other). Use it for snapshot export, staging/prod
    promotion, or forking an index before a risky reindex.

    Crash contract: every subdir + the family model dirs land before
    the manifest write at dst — the manifest-last idiom makes a
    crashed clone unopenable rather than half-served; re-running the
    clone overwrites it. Probe-identity (clone == source snapshot) is
    test-pinned and oracle-gated per family.

    `subdirs`/`aux` come from the family presets (use the
    clone_ivf/sq/pq_index wrappers, text.clone_text_index, or
    clone_graph_index which resolves versioned meta instead of aux
    copies)."""
    commits = _snapshot_commits(spark, src, as_of)
    _clear_clone_dst(spark, dst, subdirs, aux)
    _clone_commit_subdirs(spark, src, dst, subdirs, commits)
    _copy_aux_dirs(spark, src, dst, aux)
    _write_index_manifest(spark, dst, [0])


def _clone_family(kind: str, spark, src: str, dst: str, as_of) -> None:
    """clone_index with a family row's layout and frozen-model dirs."""
    fam = ANN_FAMILIES[kind]
    clone_index(spark, src, dst, fam.subdirs, aux=fam.model, as_of=as_of)


def clone_ivf_index(spark, src: str, dst: str, as_of: int | None = None):
    """Deep-clone a stored IVF-flat index (see clone_index)."""
    _clone_family("ivf", spark, src, dst, as_of)


def clone_sq_index(spark, src: str, dst: str, as_of: int | None = None):
    """Deep-clone a stored IVF-SQ8 index: codes + the frozen coarse
    quantizer AND the per-dim scalar bounds (meta) — the clone encodes
    nothing, it copies the committed codes as-is."""
    _clone_family("sq", spark, src, dst, as_of)


def clone_graph_index(spark, src: str, dst: str, as_of: int | None = None):
    """Deep-clone a stored graph/HNSW index. The graph family's meta is
    VERSIONED (one row per writer commit), so the clone resolves the
    snapshot's meta row — the entries/degree bound describing exactly
    the cloned graph — and re-writes it as the clone's own commit-0
    meta; everything else is the shared subdir fold. Graph tombstones
    are always global (no upsert path), so a pending delete carries
    into the clone and keeps filtering probes until its compaction."""
    commits = _snapshot_commits(spark, src, as_of)
    meta = _read_graph_meta(spark, src, commits)
    _clear_clone_dst(spark, dst, GRAPH_INDEX_SUBDIRS)
    _clone_commit_subdirs(spark, src, dst, GRAPH_INDEX_SUBDIRS, commits)
    entries = (
        [int(e) for e in meta.entries]
        if _meta_field(meta, "entries")
        else [int(meta.entry)]
    )
    _write_graph_meta(
        spark, dst, 0, entries,
        int(meta.n_buckets), int(meta.knn),
        int(_meta_field(meta, "layers", 1)),
        int(_meta_field(meta, "layer_mult", 8)),
        n_entries=int(_meta_field(meta, "n_entries", len(entries))),
        max_deg=_meta_field(meta, "max_deg"),
    )
    _write_index_manifest(spark, dst, [0])


def delete_from_index(
    spark, path: str, ids: DataFrame, subdirs: list, id_col: str = "vec_id"
) -> int:
    """TOMBSTONE DELETE for stored vector indexes (round 11) — the
    index-tier twin of the TSDB tombstones the reference ships
    (SURVEY §2 P9; `tombstones.go` semantics at the block tier): a
    delete never rewrites data, it commits an intention. `ids` (one
    vec_id column) lands under `tombstones/commit=N` with the manifest
    appended LAST — the same crash contract as every append here (a
    crashed delete is invisible; a replayed one re-lands the same
    id set idempotently since tombstones are a set union). Probes
    exclude tombstoned ids BEFORE their final top-k rank (survivors
    fill k; the walk may still route THROUGH a tombstoned graph node —
    NSW navigability, same reasoning as filtered search); compaction
    is the PHYSICAL delete (rows dropped, tombstones consumed);
    vacuum GCs the superseded tombstone dirs. This is the
    filter-at-query / cleanup-at-compaction model production vector
    stores use for deletes.

    Scale: the delete writes O(|ids|) rows and touches nothing else;
    the per-probe cost is one anti-join against the committed
    tombstone set, which stays small between compactions (compaction
    IS the cleanup). Semantics note: a tombstone matches by vec_id
    globally, so re-appending a deleted id stays invisible until a
    compaction has consumed the tombstone — delete wins over
    concurrent re-adds, never the reverse. `subdirs` is the family's
    *_INDEX_SUBDIRS preset (a crashed DATA append may occupy the
    commit id this delete is about to take — it must be cleared, or
    this delete's manifest append would activate it). `id_col` names
    the layout's id column — vec_id for the vector families, doc_id
    for the text index; the stored column name doubles as the scrub
    key compaction matches against."""
    # NULL horizon = the global delete (hides the key everywhere, wins
    # over later re-appends); upserts write a finite horizon
    return _commit(
        spark, path, subdirs + [("tombstones", None), ("meta", None)],
        lambda nxt, _commits: _write_tombstones(ids, path, id_col, nxt, None),
    )


def _write_tombstones(
    ids: DataFrame, path: str, id_col: str, nxt: int, horizon: int | None
) -> None:
    """Land the ids' tombstones under `tombstones/commit=nxt` (the
    caller appends the manifest LAST). `horizon` None is the global
    delete; an upsert passes its own commit, so only STRICTLY OLDER
    rows of each key are hidden — the replacement rows land in
    commit=nxt itself and stay visible, as does any later re-append."""
    (
        ids.select(F.col(id_col).cast("long"))
        .distinct()
        .withColumn("horizon", F.lit(horizon).cast("long"))
        .withColumn("commit", F.lit(nxt).cast("long"))
        .repartition(1)
        .write.partitionBy("commit")
        .mode("append")
        .parquet(f"{path}/tombstones")
    )


# "infinite" tombstone horizon: a plain DELETE hides the key in EVERY
# data commit, past and future, until a compaction consumes it — the
# delete-wins contract. Finite horizons come from upserts (see
# upsert_ivf_index / text.upsert_text_index): they hide only data
# committed strictly BEFORE the horizon, so the upsert's own
# replacement rows (and any later re-append) stay visible.
_TOMB_INF = 1 << 62


def _tombstones(spark, path: str, commits: list[int]) -> DataFrame | None:
    """The committed tombstone set as (key, horizon) — one row per key,
    horizon = the max over its tombstones (NULL/absent on disk reads as
    _TOMB_INF: the global delete) — or None when the index has no
    tombstones dir, the common case, kept scan-free. A data row is
    hidden iff its commit < horizon. Only manifest-committed tombstone
    commits apply, so a crashed delete/upsert never filters a probe,
    and after a tombstone-consuming compaction the old dirs (absent
    from the new manifest) stop applying immediately — vacuum merely
    reclaims their bytes. mergeSchema: pre-horizon tombstone files
    (round-11 deletes) carry only the key column."""
    from agni_spark.sources.layout import _hfs

    base = f"{path}/tombstones"
    fs, P = _hfs(spark, base)
    if not fs.exists(P(base)):
        return None
    # a fully-vacuumed tombstones dir keeps only _SUCCESS debris — no
    # commit= children means no parquet footers, which would fail
    # schema inference (and means no deletes apply anyway)
    if not any(
        st.getPath().getName().startswith("commit=")
        for st in fs.listStatus(P(base))
    ):
        return None
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .where(F.col("commit").isin(commits))
    )
    # the stored id column names the layout's key (vec_id / doc_id) —
    # consumers join on the tombstone DataFrame's own FIRST column
    key = [c for c in df.columns if c not in ("commit", "horizon")][0]
    h = (
        F.coalesce(F.col("horizon"), F.lit(_TOMB_INF))
        if "horizon" in df.columns
        else F.lit(_TOMB_INF)
    )
    return (
        df.select(F.col(key), h.cast("long").alias("horizon"))
        .groupBy(key)
        .agg(F.max("horizon").alias("horizon"))
    )


def _anti_tombstones(cand: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """Candidate exclusion for UNBOUNDED candidate sets (IVF/PQ cell,
    postings scans). When the candidate side carries its `commit`
    column the exclusion is HORIZON-SCOPED — keep rows with
    commit >= horizon (an upsert's replacement rows outlive the
    tombstone that hides their predecessors); without a commit column
    every tombstone is treated as global (the pre-upsert behavior —
    correct for every path that cannot see scoped tombstones). The
    tombstone side stays small between compactions, so AQE broadcasts
    the join; the candidate side is already headed into the rank
    window's shuffle, so this adds no corpus-sized exchange."""
    if tombs is None:
        return cand
    key = tombs.columns[0]
    if "commit" in cand.columns:
        j = cand.join(tombs, key, "left_outer")
        return j.where(
            F.col("horizon").isNull()
            | (F.col("commit") >= F.col("horizon"))
        ).drop("horizon")
    return cand.join(tombs.select(key), key, "left_anti")


def _anti_tombstones_bounded(
    res: DataFrame, tombs: DataFrame | None
) -> DataFrame:
    """Exclusion for BOUNDED result sets (the graph walk's visited
    rows): the tombstone set may be large, so never shuffle it —
    stream it once against the BROADCAST of the bounded ids, then
    anti-join the bounded side against the (bounded) intersection.
    Same two-step shape as the allow-set filter. Only GLOBAL
    tombstones (horizon = _TOMB_INF, i.e. deletes) exclude here: a
    horizon-scoped tombstone marks an UPSERTED id whose superseded
    node rows were already hidden from the walk's node scan
    (_hide_superseded), so the id is live at its newest vector and
    the rank must return it."""
    if tombs is None:
        return res
    gl = tombs.where(F.col("horizon") >= _TOMB_INF)
    hit = gl.select("vec_id").join(
        F.broadcast(res.select("vec_id").distinct()), "vec_id"
    )
    return res.join(F.broadcast(hit), "vec_id", "left_anti")


def _hide_superseded(
    nodes: DataFrame, tombs: DataFrame | None, key: str = "node"
) -> DataFrame:
    """The graph family's SPLIT tombstone application, node-scan half:
    hide rows SUPERSEDED by a horizon-scoped tombstone (an upsert's
    replaced predecessors — the walk must score an upserted id at its
    newest vector, exactly once) while KEEPING globally-deleted rows,
    which stay standable for NSW routing and are excluded at rank
    time instead (_anti_tombstones_bounded). The scoped set is
    tombstone-sized (small between compactions) — broadcast join, no
    corpus shuffle."""
    if tombs is None or "commit" not in nodes.columns:
        return nodes
    scoped = tombs.where(F.col("horizon") < _TOMB_INF)
    j = nodes.join(
        F.broadcast(scoped.select(F.col("vec_id").alias(key), "horizon")),
        key, "left_outer",
    )
    return j.where(
        F.col("horizon").isNull() | (F.col("commit") >= F.col("horizon"))
    ).drop("horizon")


# ---------------------------------------------------------------------------
# The coarse-routed families — IVF-flat, IVF-SQ8, IVF-BQ. Each is one
# row of ANN_FAMILIES (payload subdir + column, frozen-model dirs,
# encode and score expressions); the build, encode-on-append, upsert,
# handle and probe below serve all three. IVF-PQ shares the handle and
# the commit path but keeps its own training and ADC probe.
# ---------------------------------------------------------------------------
def _encode_cells(fam, vectors: DataFrame, cents: DataFrame, meta) -> DataFrame:
    """(vec_id, centroid_id, <payload>) for (vec_id, embedding) rows:
    each vector routes by its RAW embedding to the nearest centroid
    and is stored as the family's encoding of it (`meta` is the frozen
    meta row; None for IVF-flat)."""
    cells = _nearest_centroids(
        vectors.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", 1,
    )
    return cells.select(
        "vec_id", "centroid_id", fam.encode(F.col("ce"), meta).alias(fam.col)
    )


def _write_coarse_index(
    fam, corpus: DataFrame, path: str, n_centroids: int, iters: int,
    centroids: DataFrame | None, meta=None,
) -> None:
    """The coarse-routed families' build: payload cells under
    `commit=0` partitioned by (commit, centroid_id), `centroids/`,
    the frozen `meta/` row when the family has one, and the manifest
    LAST (the commit marker)."""
    spark = corpus.sparkSession
    cents = (
        centroids if centroids is not None
        else ivf_centroids(corpus, n_centroids, iters)
    )
    sub, routing = fam.subdirs[0]
    _write_commit(
        _encode_cells(fam, corpus, cents, meta), path, sub, routing, 0,
        build=True,
    )
    cents.select(
        "centroid_id", F.col("cvec").cast("array<double>").alias("cvec")
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    if meta is not None:
        spark.createDataFrame([meta], fam.meta_schema).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/meta")
    _write_index_manifest(spark, path, [0])


def _coarse_commit(
    fam, spark, path: str, new_vectors: DataFrame, batch_id: int | None,
    app_id: str | None, upsert: bool = False, race_hook=None,
) -> int | None:
    """Encode-on-append for a coarse-routed family, committed through
    _commit: the new vectors route to the FROZEN centroids and encode
    with the FROZEN meta (standard IVF add() semantics — nothing is
    retrained, nothing existing is read or rewritten). `upsert` adds
    the horizon-scoped vec_id tombstone to the same commit."""

    def stage(nxt, _commits):
        cents = spark.read.parquet(f"{path}/centroids")
        meta = (
            spark.read.parquet(f"{path}/meta").first()
            if "meta" in fam.model else None
        )
        sub, routing = fam.subdirs[0]
        _write_commit(
            _encode_cells(fam, new_vectors, cents, meta), path, sub, routing,
            nxt,
        )

    return _commit(
        spark, path, fam.subdirs + ([("tombstones", None)] if upsert else []),
        stage, batch_id=batch_id, app_id=app_id,
        scoped=(new_vectors, "vec_id") if upsert else None,
        race_hook=race_hook,
    )


class IvfIndexHandle:
    """An OPENED stored coarse-routed index (IVF-flat here; the SQ8, BQ
    and PQ handles are this class with another family row): centroid
    table, the frozen `meta` row (None for IVF-flat), the committed
    payload `scan` (cells or codes) and the committed tombstone set,
    resolved once at open with the manifest snapshot pinned (reopen to
    see later writes). `as_of` pins an older snapshot (see
    _snapshot_commits): probes serve the index exactly as it stood
    after that commit — sound because the coarse quantizer and every
    model dir are frozen at build time."""

    kind = "ivf"

    def __init__(self, spark, path: str, as_of: int | None = None):
        fam = self.family = ANN_FAMILIES[self.kind]
        self.path = path
        self.cents = spark.read.parquet(f"{path}/centroids")
        self.meta = (
            spark.read.parquet(f"{path}/meta").first()
            if "meta" in fam.model else None
        )
        self.commits = _snapshot_commits(spark, path, as_of)
        # `commit` stays on the scan: the tombstone exclusion is
        # horizon-scoped against it (upserts); probes project it away
        # right after the anti-join
        self.scan = spark.read.parquet(f"{path}/{fam.subdirs[0][0]}").where(
            F.col("commit").isin(self.commits)
        )
        self.tombstones = _tombstones(spark, path, self.commits)


def _coarse_probe(
    h: IvfIndexHandle, queries: DataFrame, k: int, nprobe: int,
    allowed: DataFrame | None,
) -> DataFrame:
    """The coarse-routed families' probe: route each query to its
    nprobe nearest centroids, join the probes against the partitioned
    payload scan on the partition column (dynamic partition pruning —
    only the probed centroid_id dirs are read), filter, score with the
    family's expression and rank (score DESC, vec_id ASC)."""
    fam = h.family
    probes = _nearest_centroids(
        queries.select("query_id", F.col("embedding").alias("qe")),
        h.cents, "query_id", "qe", nprobe,
    )
    # The cells ⋈ probes join keys on centroid_id — n_centroids
    # DISTINCT VALUES, so its output lands in <= n_centroids non-empty
    # partitions and the exact rerank (the expensive part:
    # higher-order-function folds over the vectors) would run nearly
    # serial regardless of cluster size. Redistribute the candidate
    # pairs on (query_id, vec_id) BEFORE scoring (same bytes the rank
    # window would have shuffled anyway, moved one stage earlier), then
    # project narrow rows so the window's own query_id shuffle carries
    # only (ids, score). knn_graph (all-points queries) went 17s -> ~2s
    # at sf0.1 from this alone.
    cand = h.scan.join(probes, "centroid_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    if allowed is not None:
        # semi-join ABOVE the probes join, so the DPP relationship
        # between probes and the cells scan is untouched - the filter
        # narrows candidates, never widens what the index reads
        cand = cand.join(
            allowed.select("vec_id").distinct(), "vec_id", "semi"
        )
    # tombstoned ids drop BEFORE the rank, so survivors fill k (see
    # delete_from_index); no-op (plan untouched) when no deletes exist
    cand = _anti_tombstones(cand, h.tombstones)
    scored = cand.repartition(F.col("query_id"), F.col("vec_id")).select(
        "query_id",
        "vec_id",
        fam.score(F.col("qe"), F.col(fam.col), h.meta).alias(fam.out),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(fam.out).desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", fam.out, F.col("rk").cast("int").alias("rk")
        )
        .orderBy("query_id", "rk")
    )


def write_ivf_index(
    corpus: DataFrame, path: str, n_centroids: int = 8, iters: int = 1,
    centroids: DataFrame | None = None,
) -> None:
    """Build + persist an IVF-flat index: `cells/` parquet partitioned
    by (commit, centroid_id) — each vector in exactly one cell, each
    build/append in its own commit partition — plus `centroids/`
    (tiny) and `manifest/` (the commit marker, written LAST).
    Directory-per-cell means a probe reads nprobe/n_centroids of the
    data — the Spark equivalent of per-list IVF files.

    `centroids` pins a precomputed coarse quantizer instead of
    training one from this corpus (used by tests to rebuild an index
    equivalent to build+append)."""
    _write_coarse_index(
        ANN_FAMILIES["ivf"], corpus, path, n_centroids, iters, centroids
    )


def append_ivf_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
    _race_hook=None,
) -> int | None:
    """Incremental index maintenance: assign ONLY the new vectors to
    the index's FROZEN centroids (standard IVF add() semantics — the
    coarse quantizer is not retrained) and land them in a fresh
    `commit=` partition; the manifest rewrite LAST is the commit
    point. No existing data is read or rewritten — the append's cost
    is O(new rows), not O(index). Returns the commit id.

    `batch_id` (streaming callers): recorded in the manifest row of
    the new commit, atomically with the commit itself; a replay whose
    previous attempt already reached the manifest is skipped (returns
    None). The replay contract, the exclusive claim and `_race_hook`
    (the deterministic concurrency seam) are _commit's."""
    return _coarse_commit(
        ANN_FAMILIES["ivf"], spark, path, new_vectors, batch_id, app_id,
        race_hook=_race_hook,
    )


def upsert_ivf_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None, _race_hook=None,
) -> int | None:
    """UPSERT (replace-or-insert) into a stored IVF index, round 11:
    one atomic commit that both HIDES every older row of the upserted
    vec_ids (a horizon-scoped tombstone — hides rows committed strictly
    before this commit, see _write_tombstones) and LANDS the
    replacement vectors, assigned to the FROZEN coarse quantizer like
    any append. Ids new to the index simply insert (their tombstone
    hides nothing). This is the filter-at-query / cleanup-at-compaction
    update model production vector stores use: nothing existing is
    read or rewritten — upsert cost is O(new rows) — probes exclude the
    superseded rows with the same small anti-join deletes use, and the
    next compact_index drops them physically and consumes the
    tombstone.

    Semantics vs delete: delete_from_index is delete-WINS (hides the
    key in every commit, past and future, until compaction); upsert is
    time-ordered among writes — its replacement rows, and any later
    upsert of the same key, stay visible (the newer horizon hides the
    older rows). Delete-wins is absolute between compactions: a delete
    issued after an upsert hides the replacement (max horizon wins in
    _tombstones), and a PENDING global delete also hides a LATER
    upsert of the key — compact first (consuming the tombstone) to
    resurrect a deleted id. Re-adding an id via plain append remains a
    contract violation (appends are for NEW ids); upsert is the
    supported write-same-id-again operation.

    Crash contract (see _commit): tombstones/commit=N and
    cells/commit=N are both written BEFORE the manifest append — a
    crash anywhere leaves the index serving exactly the old manifest.
    Returns N, or None when the streaming `batch_id` was already
    applied (checked before anything is written)."""
    return _coarse_commit(
        ANN_FAMILIES["ivf"], spark, path, new_vectors, batch_id, app_id,
        upsert=True, race_hook=_race_hook,
    )


def open_ivf_index(
    spark, path: str, as_of: int | None = None
) -> IvfIndexHandle:
    """Open a stored IVF index for repeated probing (see
    IvfIndexHandle). `as_of=N` opens the commit-N snapshot (time
    travel; see _snapshot_commits)."""
    return IvfIndexHandle(spark, path, as_of=as_of)


def ivf_ann_stored(
    spark, index, queries: DataFrame, k: int = 10, nprobe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probe a stored IVF index: route each query to its nprobe nearest
    centroids, then join probes against the partitioned cells store.
    The join key IS the partition column, so Catalyst plans dynamic
    partition pruning — the cells scan reads only the probed
    centroid_id directories (plan-asserted in tests/test_plans.py).
    Results are identical to ivf_ann() built from the same
    corpus/params; only manifest-committed commit partitions are
    served (static partition pruning on the IN list). `index` is a
    path or an open IvfIndexHandle.

    `allowed` (optional) makes this a FILTERED vector search — the
    standard predicate-plus-ANN serving shape: a one-column (vec_id)
    allow-set, typically the result of a metadata predicate on the
    source table, restricts the candidates BEFORE the top-k rank
    (post-filter semantics: a query may return fewer than k rows when
    the probed cells hold fewer than k allowed members — raise nprobe
    to buy coverage, the classic filtered-ANN recall trade).
    Scale: the predicate is evaluated on the metadata table (its scan
    gets the pushdown), and the semi-join runs candidates-vs-allowed
    on vec_id — candidates are nprobe-cells-sized, the allow-set may
    be corpus-sized; AQE picks the side to broadcast. The cells scan
    itself still prunes to the probed partition dirs — filtering
    never widens what is read from the index."""
    h = index if isinstance(index, IvfIndexHandle) else IvfIndexHandle(
        spark, index
    )
    return _coarse_probe(h, queries, k, nprobe, allowed)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-index ANN path. Vectors
# split into m subspaces; each sub-vector is coded as its nearest
# sub-centroid id, so a D-dim float vector compresses to m small ints
# and query scoring becomes table lookups (ADC) instead of full
# D-dim arithmetic. At 100 TB the codes table is ~D*4/m bytes-per-
# vector smaller than the corpus and the ADC join touches no raw
# embeddings at all.
# ---------------------------------------------------------------------------
def pq_codebooks(corpus: DataFrame, m: int = 4, ksub: int = 8) -> DataFrame:
    """Per-subspace codebooks from the deterministic seeded-hash sample
    (the ksub corpus vectors with the smallest md5-derived id hash give
    each subspace its centroids — sample-codebook initialization,
    engine-mirrorable; code assignment is max-inner-product, matching
    the cosine-centric tier). Returns (sub, cid, cvec) — m*ksub rows,
    broadcast-sized."""
    from agni_spark.functions.dedup import hash60

    sample = (
        corpus.orderBy(hash60(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(ksub)
        .select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .withColumn(
            "cid",
            # same order as the sample selection (hash, then id): cid 1
            # is the first sampled vector — mirrored in the SQL twin.
            # ksub rows by construction; the constant partition key
            # keeps WindowExec off the move-everything plan shape
            F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy(
                    hash60(F.col("vec_id").cast("string")), F.col("vec_id")
                )
            ),
        )
    )
    sublen = (F.size("e") / m).cast("int")
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("e", s * sublen + 1, sublen).alias("cvec"),
            )
            for s in range(m)
        ]
    )
    return (
        sample.select("cid", F.explode(subs).alias("sc"))
        .select(F.col("sc.sub").alias("sub"), "cid", F.col("sc.cvec").alias("cvec"))
        .persist()
    )


def _finalize(result: DataFrame, intermediates: list[DataFrame]) -> DataFrame:
    """Materialize a parameter-BOUNDED result (top-k rows per query)
    eagerly — localCheckpoint computes it NOW, while the build-time
    caches are hot, and truncates its lineage — then release every
    intermediate persist. Without this, repeated probes in one session
    accumulate executor storage memory (the r6 advisor finding): each
    graph_ann call pinned hops+1 growing `scored` unions plus the edge
    table forever. Only for results whose size is independent of the
    corpus (q*k rows here); corpus-sized frames must stay lazy."""
    out = result.localCheckpoint(eager=True)
    for df_ in intermediates:
        df_.unpersist()
    return out


def _subdot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(corpus: DataFrame, codebooks: DataFrame, m: int = 4) -> DataFrame:
    """Code each vector: per subspace, the max-inner-product sub-
    centroid (6dp-rounded dot, ties to the lowest cid). Output
    (vec_id, sub, cid) — the compressed index, plus the codebook-space
    squared norm per vector for ADC cosine normalization."""
    sublen = (F.size(F.col("e")) / m).cast("int")
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("e", s * sublen + 1, sublen).alias("v"),
            )
            for s in range(m)
        ]
    )
    sv = (
        corpus.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .select("vec_id", F.explode(subs).alias("sc"))
        .select("vec_id", F.col("sc.sub").alias("sub"), F.col("sc.v").alias("v"))
    )
    scored = sv.join(F.broadcast(codebooks), "sub").withColumn(
        "d", F.round(_subdot(F.col("v"), F.col("cvec")), 6)
    )
    # argmax-dot with ties to the lowest cid, as a map-side-combining
    # max_by over struct(d, -cid) — no per-group sort shuffle
    return scored.groupBy("vec_id", "sub").agg(
        F.max_by("cid", F.struct(F.col("d"), -F.col("cid"))).alias("cid")
    )


def pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """ADC top-k over the PQ codes: per query, a distance TABLE of
    m*ksub partial dots against the (broadcast) codebooks; a vector's
    approximate similarity is the sum of its codes' table entries over
    the codebook-space norms — table lookups, no raw-embedding
    arithmetic in the scan. Approximate by construction; exactness is
    the cosine_topk baseline's job."""
    cb = pq_codebooks(corpus, m, ksub)
    codes = pq_encode(corpus, cb, m)
    # codebook-space squared norm of each coded vector
    cnorm = cb.withColumn("c2", _subdot(F.col("cvec"), F.col("cvec")))
    vnorm = (
        codes.join(F.broadcast(cnorm), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("c2").alias("vn2"))
    )
    sublen_q = (F.size(F.col("qe")) / m).cast("int")
    qsubs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("qe", s * sublen_q + 1, sublen_q).alias("qv"),
            )
            for s in range(m)
        ]
    )
    q = queries.select(
        F.col("query_id"), F.col("embedding").cast("array<double>").alias("qe")
    )
    qnorm = q.select(
        "query_id", F.sqrt(_subdot(F.col("qe"), F.col("qe"))).alias("qn")
    )
    qtab = (
        q.select("query_id", F.explode(qsubs).alias("sc"))
        .select("query_id", F.col("sc.sub").alias("sub"), F.col("sc.qv").alias("qv"))
        .join(F.broadcast(cb), "sub")
        .withColumn("pd", _subdot(F.col("qv"), F.col("cvec")))
        .select("query_id", "sub", "cid", "pd")
    )
    adc = (
        codes.join(F.broadcast(qtab), ["sub", "cid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd").alias("dot"))
        .join(vnorm, "vec_id")
        .join(F.broadcast(qnorm), "query_id")
        .withColumn(
            "cos",
            F.round(
                F.col("dot") / (F.col("qn") * F.sqrt(F.col("vn2"))), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return _finalize(
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk"),
        [cb],
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label cluster profile: element-wise centroid vector, member
    count, and mean vector norm — the embedding-space groupBy that
    backs dataset cartography / cluster QA dashboards.

    Shape: ONE posexplode feeds a (label, pos) mean aggregation
    (map-side combining, dim x n_labels result), reassembled into an
    array column by a per-label sort of the (pos, mean) structs; norms
    are a narrow projection aggregated in the same pass over the
    un-exploded frame. No window, no join on the fact side; the only
    shuffles are the two tiny label-keyed aggregations."""
    e = emb.select(
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    pos = e.select("label", F.posexplode("v"))
    means = pos.groupBy("label", "pos").agg(
        F.round(F.avg("col"), 6).alias("m")
    )
    cent = (
        means.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label",
            F.transform(F.col("pm"), lambda s: s.getField("m")).alias("centroid"),
        )
    )
    norm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    stats = e.select("label", norm.alias("nrm")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
    )
    return cent.join(stats, "label").orderBy("label")


def knn_graph(
    corpus: DataFrame, k: int = 5, n_centroids: int = 8, nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH: every corpus vector is also a query over
    the IVF structure — probe nprobe cells, rerank exactly inside them.
    The all-points analogue of ivf_ann (one row per (point, neighbor,
    rank)); feeds graph-based downstreams (kNN clustering, SNN, label
    propagation). Deterministic (seeded quantizer), so the DuckDB
    mirror is a FULL oracle, not a recall bound. Scale: probes are a
    corpus-sized table but join cells on the partition key — never a
    broadcast of the corpus; work is nprobe/n_cells of the naive n^2.

    Round-14 (guide §1.2/§2.4 — remove a full pass): because queries
    ARE the corpus here, the cell assignment (top-1 centroid per
    vector) and the probe routing (top-nprobe centroids per vector)
    are two prefixes of the SAME ranked scan — one broadcast-scored,
    vec_id-windowed pass with `rn` kept (keep_rank), with cells =
    rn==1 and probes = all rn<=nprobe rows. Both branches share the
    identical exchange subtree, so Spark's ReuseExchange runs the
    scoring shuffle once where the old ivf_ann delegation paid two
    independent crossJoin+rank passes over n_vectors x n_centroids
    rows. Candidate join, rerank, and top-k are byte-identical to
    ivf_ann's (same 6dp rounding, same tie-breaks; test-pinned
    against ivf_ann(corpus, corpus)).

    `centroids` (round-14): a precomputed ivf_centroids(corpus,
    n_centroids) table, for callers (graph_ann, write_graph_index)
    that also need the same quantizer for entry-medoid selection —
    one training pass instead of two identical ones."""
    cents = (
        centroids if centroids is not None
        else ivf_centroids(corpus, n_centroids)
    )
    ranked = _nearest_centroids(
        corpus.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", max(1, nprobe), keep_rank=True,
    )
    cells = ranked.where(F.col("rn") == 1).drop("rn")
    probes = ranked.select(
        F.col("vec_id").alias("query_id"), F.col("ce").alias("qe"),
        "centroid_id",
    )
    scored = (
        cells.join(probes, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .repartition(F.col("query_id"), F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk")
        )
        .orderBy("query_id", "rk")
    )


def mutual_knn_clusters(
    corpus: DataFrame,
    k: int = 5,
    threshold: float = 0.3,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """Mutual-kNN clustering: an edge (a, b) exists iff a is in b's
    approximate k-NN AND b is in a's (both with cosine >= threshold) —
    the standard noise-robust sparsification — then alternating-star
    connected components label each vector with its cluster's minimum
    id; singletons are their own cluster. Ties the ANN tier to the
    graph tier: one kNN-graph pass, one self-join on the reversed edge
    (equi-join on both endpoints), log-round components."""
    from agni_spark.functions.dedup import connected_components

    g = knn_graph(corpus, k, n_centroids, nprobe).where(
        F.col("cos") >= threshold
    )
    e = g.select("query_id", "vec_id")
    rev = e.select(
        F.col("vec_id").alias("query_id"), F.col("query_id").alias("vec_id")
    )
    mutual = e.join(rev, ["query_id", "vec_id"]).where(
        F.col("query_id") < F.col("vec_id")
    )
    comp = connected_components(mutual, "query_id", "vec_id")
    return (
        corpus.select("vec_id")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component_id"), F.col("vec_id")).alias(
                "cluster_id"
            ),
        )
        .orderBy("vec_id")
    )


def range_search(
    corpus: DataFrame, queries: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Cosine RANGE query: ALL corpus vectors with similarity >=
    threshold to each query (the radius-neighbor API next to top-k).
    Queries broadcast (bounded set by contract); the corpus scan stays
    partition-local — one narrow pass, no shuffle but the output sort.
    For corpus-vs-corpus radius search use the blocked grid ε-join
    (dedup.embedding_neardup_pairs_blocked) instead."""
    scored = corpus.crossJoin(
        F.broadcast(queries.select(F.col("query_id"), F.col("embedding").alias("qe")))
    ).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
    )
    return scored.where(
        (F.col("cos") >= threshold) & (F.col("vec_id") != F.col("query_id"))
    ).orderBy("query_id", "vec_id")


def pagerank(
    edges: DataFrame, damping: float = 0.85, iters: int = 3
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list (src, dst) — the
    centrality downstream of knn_graph (hub documents/vectors in the
    similarity graph). Classic simplified recurrence
        r'(v) = (1-d)/N + d * sum_{u->v} r(u) / outdeg(u)
    from a uniform 1/N start; nodes without out-edges leak their mass
    (the textbook power-iteration simplification — documented, and the
    kNN graph has k out-edges everywhere so nothing leaks there).

    Spark shape: one groupBy(dst) shuffle per iteration; the degree
    table joins on src (AQE decides broadcast); no collect beyond the
    O(1) node count. Determinism: each iteration's ranks are
    discretized to 1e-9 (floor(x*1e9+0.5)/1e9, the repo-wide
    cross-engine rounding idiom) so an independent SQL restatement of
    the same 3 chained iterations cannot drift off the float path;
    final output rounds to 6dp."""
    # persist the edge list: the power loop references it every
    # iteration, and an unpersisted upstream (e.g. the whole kNN-graph
    # build) would otherwise recompute per iteration — PLANS.md showed
    # 18 scans / 60 shuffles before this pin, 4 / 24 after
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges ⋈ deg is iteration-invariant — join it ONCE and persist
    # (round-14, guide §2.4): the loop re-planned this join every
    # iteration, growing the final plan by a join+aggregate subtree
    # per round for a table that never changes. r/deg still divides by
    # the same integer count, so the float path is untouched.
    ed = edges.join(deg, "src").persist()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    prev = None
    for _ in range(iters):
        inflow = (
            ed
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("inflow"))
        )
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (
                F.floor(
                    (
                        F.lit(base)
                        + damping * F.coalesce("inflow", F.lit(0.0))
                    )
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("r"),
        )
        # TRUNCATE the iteration lineage (round-15, guide §5.4, the
        # r14 verdict's top engine item): without this, iteration i's
        # plan embeds every earlier iteration — ~10.5k plan lines and
        # ~1,160 Exchanges by i=3 on a knn_graph input, and the driver
        # re-plans that whole tower per iteration. localCheckpoint
        # (eager) materializes the O(n_nodes) rank table and re-roots
        # the plan at a scan of it: per-iteration plan size is O(1).
        # The values are the same discretized floats — only where they
        # are read from changes.
        ranks = ranks.localCheckpoint(eager=True)
        if prev is not None:
            prev.unpersist()
        prev = ranks
    out = ranks.select(
        "node", F.round("r", 6).alias("rank")
    ).orderBy(F.col("rank").desc(), "node")
    # release the pinned iteration-invariant tables on every path
    # instead of leaking corpus-scale pins to the caller's session: the
    # checkpointed final ranks no longer reference them, and with
    # iters=0 the uniform start just recomputes its node list from the
    # caller's edges (n is already a literal)
    ed.unpersist()
    nodes.unpersist()
    edges.unpersist()
    return out


def _ivfpq_train(
    corpus: DataFrame,
    n_centroids: int,
    m: int,
    ksub: int,
    lloyd_rounds: int,
):
    """Shared IVF-PQ TRAINING (coarse quantizer + residual codebooks +
    code assignment) behind ivfpq_search and write_pq_index — one
    implementation, so the stored index is guaranteed to serve the
    exact results the in-memory search computes (test-pinned).
    Returns (cents, cells, cb, codes, release) where release is the
    list of persisted intermediates the caller must hand to _finalize
    (or unpersist after materializing its outputs)."""
    from agni_spark.functions.dedup import hash60

    cents = ivf_centroids(corpus, n_centroids, 1)
    cells = _nearest_centroids(
        corpus.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", 1,
    )

    # residuals r = x - c(cell): elementwise, exact (no accumulation)
    resid = (
        cells.join(F.broadcast(cents), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                F.col("ce"), F.col("cvec"),
                lambda x, y: x.cast("double") - y,
            ).alias("r"),
        )
        .persist()  # consumed by codebook sample + encode
    )
    # downstream consumers (candidate generation, packed-code join)
    # only need the assignment pair — serve it from the persisted
    # residual table instead of re-running the full corpus assignment
    # pass per consumer (guide §2.4: the cells lineage is a corpus
    # scan + broadcast score + max_by, one whole extra pass each time)
    cells = resid.select("vec_id", "centroid_id")

    # residual codebooks: the ksub seeded-hash-sampled vectors'
    # residuals, sliced per subspace -> (sub, cid, cvec), m*ksub rows
    # the window input is the ksub-row limit by construction; the
    # constant partition key keeps WindowExec off the move-everything
    # plan (and its warning) — same idiom as text._topk_ranked
    sample = (
        resid.orderBy(hash60(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(ksub)
        .withColumn(
            "cid",
            F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy(
                    hash60(F.col("vec_id").cast("string")), F.col("vec_id")
                )
            ),
        )
    )

    cb_seed = sample.select(
        "cid", F.explode(_pq_subs("r", "cvec", m)).alias("sc")
    ).select(
        F.col("sc.sub").alias("sub"), "cid",
        F.col("sc.cvec").alias("cvec"),
    )

    # consumed by every Lloyd round AND the final encode. The explicit
    # repartition matters: resid reaches here through broadcast joins
    # that PRESERVE the corpus scan's partitioning (often one parquet
    # file -> one partition at test SFs), so without it every _assign's
    # argmin-L2 folds — the training hot loop — would run nearly
    # serial. One narrow shuffle of (vec_id, sub, subvector) rows buys
    # full-width parallelism for all downstream passes.
    rv = (
        resid.select("vec_id", F.explode(_pq_subs("r", "v", m)).alias("sc"))
        .select(
            "vec_id", F.col("sc.sub").alias("sub"), F.col("sc.v").alias("v")
        )
        .repartition(F.col("vec_id"), F.col("sub"))
        .persist()
    )

    def _assign(cbk: DataFrame, with_v: bool = False) -> DataFrame:
        """Per (vector, sub): the argmin-L2 codeword (6dp, ties to the
        lowest cid) via min_by over struct(d2, cid) — a map-side-
        combining aggregation instead of a rank window (no per-group
        sort shuffle; same result, struct order IS (d2 ASC, cid ASC)).

        `with_v=True` (the Lloyd loop) carries the subvector through
        the same min_by (round-14, guide §2.4): every row of a
        (vec_id, sub) group holds the identical `v`, so aggregating
        struct(cid, v) selects the same codeword AND hands the mean
        pass its input directly — the old shape re-joined the
        assignment back to `rv` on (vec_id, sub) every round, one
        whole join stage per Lloyd round for rows the aggregation
        already held."""
        dv = F.zip_with(F.col("v"), F.col("cvec"), lambda x, y: x - y)
        enc = rv.join(F.broadcast(cbk), "sub").withColumn(
            "d2", F.round(_subdot(dv, dv), 6)
        )
        if with_v:
            return (
                enc.groupBy("vec_id", "sub")
                .agg(
                    F.min_by(
                        F.struct(F.col("cid"), F.col("v")),
                        F.struct(F.col("d2"), F.col("cid")),
                    ).alias("_a")
                )
                .select(
                    "vec_id", "sub",
                    F.col("_a.cid").alias("cid"), F.col("_a.v").alias("v"),
                )
            )
        return enc.groupBy("vec_id", "sub").agg(
            F.min_by("cid", F.struct(F.col("d2"), F.col("cid"))).alias("cid")
        )

    # `lloyd_rounds` fixed Lloyd rounds on the codebooks: each round
    # moves every codeword to its assigned residual subvectors'
    # elementwise mean (6dp); empty codewords keep their previous
    # position (coalesce). Each extra round is one more assignment
    # pass over (n*m) subvector rows vs an m*ksub broadcast — cheap,
    # and the oracle mirrors the exact round count.
    def _train(cbk: DataFrame) -> DataFrame:
        means = (
            _assign(cbk, with_v=True)
            .select("sub", "cid", F.posexplode("v"))
            .groupBy("sub", "cid", "pos")
            .agg(F.round(F.avg("col"), 6).alias("mv"))
        )
        trained = (
            means.groupBy("sub", "cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pm")
            )
            .select(
                "sub", "cid",
                F.transform(
                    F.col("pm"), lambda s: s.getField("mv")
                ).alias("tv"),
            )
        )
        return cbk.join(trained, ["sub", "cid"], "left").select(
            "sub", "cid", F.coalesce(F.col("tv"), F.col("cvec")).alias("cvec")
        )

    # Pin each round's codebook eagerly (m*ksub rows — parameter-
    # bounded, same idiom as ivf_centroids): lazily chained rounds
    # re-execute the previous round's full-rv assignment pass once per
    # reference — `_train` plans its input on both sides of a join, so
    # the duplicated passes (and the plan size) grow geometrically
    # with the round count (guide §2.4: remove duplicate passes).
    cb = cb_seed
    pinned = []
    for _ in range(lloyd_rounds):
        cb = _train(cb).persist()
        cb.count()
        pinned.append(cb)
    if not pinned:  # lloyd_rounds=0: the seed codebook is the codebook
        cb = cb.persist()
        pinned.append(cb)
    codes = _assign(cb)
    return cents, cells, cb, codes, [resid, rv, *pinned]


def _pq_subs(col_name: str, out: str, m: int):
    """Split an array column into m equal subspace slices, tagged with
    their subspace index: array of struct(sub, <out>)."""
    ln = (F.size(col_name) / m).cast("int")
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(col_name, s * ln + 1, ln).alias(out),
            )
            for s in range(m)
        ]
    )


def _ivfpq_adc(
    cents: DataFrame,
    cb: DataFrame,
    cand_codes: DataFrame,
    queries: DataFrame,
    k: int,
    m: int,
) -> DataFrame:
    """Shared ADC scoring + top-k behind ivfpq_search and
    ivfpq_stored: `cand_codes` is the pruned candidate-code table
    (query_id, vec_id, centroid_id, sub, cid); everything else is
    broadcast-sized and rebuilt per query batch from the (tiny)
    centroid/codebook tables — queries-sized work, cheap. The cosine
    decomposition (see ivfpq_search) is deterministic (6dp, id
    tie-breaks), so both callers share one FULL SQL oracle."""
    r2 = cb.select(
        "sub", "cid", _subdot(F.col("cvec"), F.col("cvec")).alias("r2")
    )
    csubs = cents.select(
        "centroid_id", F.explode(_pq_subs("cvec", "cs", m)).alias("sc")
    ).select(
        "centroid_id", F.col("sc.sub").alias("sub"), F.col("sc.cs").alias("cs")
    )
    cr = (
        csubs.join(cb, "sub")
        .select(
            "centroid_id", "sub", "cid",
            _subdot(F.col("cs"), F.col("cvec")).alias("cr"),
        )
    )
    c2 = cents.select(
        "centroid_id", _subdot(F.col("cvec"), F.col("cvec")).alias("c2")
    )
    q = queries.select(
        "query_id", F.col("embedding").cast("array<double>").alias("qe")
    )
    qnorm = q.select(
        "query_id", F.sqrt(_subdot(F.col("qe"), F.col("qe"))).alias("qn")
    )
    qc = (
        q.join(F.broadcast(cents.select("centroid_id", "cvec")), F.lit(True))
        .select(
            "query_id", "centroid_id",
            _subdot(F.col("qe"), F.col("cvec")).alias("qc"),
        )
    )
    qtab = (
        q.select("query_id", F.explode(_pq_subs("qe", "qv", m)).alias("sc"))
        .select(
            "query_id", F.col("sc.sub").alias("sub"), F.col("sc.qv").alias("qv")
        )
        .join(F.broadcast(cb), "sub")
        .withColumn("pd", _subdot(F.col("qv"), F.col("cvec")))
        .select("query_id", "sub", "cid", "pd")
    )

    adc = (
        cand_codes
        .join(F.broadcast(qtab), ["query_id", "sub", "cid"])
        .join(F.broadcast(cr), ["centroid_id", "sub", "cid"])
        .join(F.broadcast(r2), ["sub", "cid"])
        .groupBy("query_id", "vec_id", "centroid_id")
        .agg(
            F.sum("pd").alias("rdot"),
            F.sum("cr").alias("crs"),
            F.sum("r2").alias("r2s"),
        )
        .join(F.broadcast(qc), ["query_id", "centroid_id"])
        .join(F.broadcast(c2), "centroid_id")
        .join(F.broadcast(qnorm), "query_id")
        .withColumn(
            "cos",
            F.round(
                (F.col("qc") + F.col("rdot"))
                / (
                    F.col("qn")
                    * F.sqrt(
                        F.col("c2") + 2 * F.col("crs") + F.col("r2s")
                    )
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk")
        )
        .orderBy("query_id", "rk")
    )


def ivfpq_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 16,
    ksub: int = 16,
    lloyd_rounds: int = 2,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding: the canonical billion-scale
    composite index (FAISS IVFPQ's default, faiss IndexIVFPQ
    by_residual) — the coarse quantizer routes each query to nprobe
    cells, and inside the probed cells the PQ codes quantize
    RESIDUALS r = x − c(cell), not raw vectors: residuals are small
    and centered, so the same code budget spends its precision on the
    informative part (residual encoding is what makes high compression
    usable; flat-encoding recall collapses — pinned in
    tests/test_llm_ops.py recall floor).

    Reconstruction x̂ = c + recon(r), so the ADC cosine decomposes
    into broadcast-sized TABLES, all deterministic:
      dot(q, x̂)  = dot(q, c)                  [qc: queries × cells]
                  + Σ_sub pd(q, sub, code)    [qtab: ADC lookups]
      |x̂|²       = |c|²                       [c2: per cell]
                  + 2 Σ_sub cr(cell, sub, code)  [cell-code cross dots]
                  + Σ_sub r2(sub, code)       [codeword norms]
    Code assignment is argmin L2 over residual subvectors (FAISS
    semantics; 6dp-rounded, ties to lowest cid). Residual codebooks
    start from the deterministic seeded-hash sample's residuals and
    take `lloyd_rounds` fixed Lloyd rounds per subspace (assign ->
    6dp-rounded sub-centroid means; empty codewords keep their seed)
    — measured recall@10 on the synthetic corpus: 0.20 seed-only ->
    0.30 one round -> 0.34 two rounds (converged: round 3 adds
    nothing; flat encoding scored 0.24), floors pinned in
    tests/test_llm_ops.py. An OPQ-style rotation was evaluated and
    rejected WITH MEASUREMENT: the corpus is isotropic (per-dim stddev
    0.118-0.135, adjacent-dim corr -0.005), and rotations only help
    when variance is unevenly distributed across subspaces. The
    remaining gap to the IVF admission bound closes with exact
    re-ranking — see ivfpq_refine (0.46 vs the 0.48 bound).
    Everything stays engine-mirrorable, so the full pipeline has a SQL
    oracle.

    Spark shape: candidate generation is the cells⋈probes equi-join
    (nprobe/n_centroids of the corpus per query — the IVF prune);
    codes join candidates on vec_id, then the broadcast tables on
    (query_id, sub, cid) / (centroid_id, sub, cid); one groupBy sums
    the m partials. At 100 TB the only corpus-sized tables in flight
    are `cells` (two ints per vector) and `codes` (m small ints per
    vector) — raw embeddings are read once at build time.

    Training + scoring are shared with the STORED index
    (write_pq_index / ivfpq_stored) via _ivfpq_train/_ivfpq_adc —
    this per-call-training entry point is the one-shot path; repeated
    serving should build the index once and probe it."""
    cents, cells, cb, codes, release = _ivfpq_train(
        corpus, n_centroids, m, ksub, lloyd_rounds
    )
    probes = _nearest_centroids(
        queries.select("query_id", F.col("embedding").alias("qe")),
        cents, "query_id", "qe", nprobe,
    ).select("query_id", "centroid_id")
    cand = (
        cells.select("vec_id", "centroid_id")
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "centroid_id")
    )
    return _finalize(
        _ivfpq_adc(cents, cb, codes.join(cand, "vec_id"), queries, k, m),
        release,
    )


def ivfpq_refine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rfactor: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 16,
    ksub: int = 16,
    lloyd_rounds: int = 2,
) -> DataFrame:
    """FAISS IVFPQR-style two-stage serve: the ADC shortlist
    (k*rfactor candidates per query) re-scored with EXACT cosine
    against the raw vectors and re-ranked to top-k. This is the
    standard production shape — compressed codes prune 1-nprobe/cells
    of the corpus, then a bounded exact pass removes the ADC
    quantization noise: measured recall@10 0.34 (ADC alone, 2 Lloyd
    rounds) -> 0.46 vs the 0.48 IVF admission ceiling.

    Scale: the shortlist is q*k*rfactor rows — parameter-bounded, so
    it BROADCASTS into one corpus scan for the exact re-score; the
    corpus never shuffles and the extra cost over plain ivfpq is one
    narrow scan + a q*k*rfactor-row rank window."""
    shortlist = ivfpq_search(
        corpus, queries, k=k * rfactor,
        n_centroids=n_centroids, nprobe=nprobe, m=m, ksub=ksub,
        lloyd_rounds=lloyd_rounds,
    )
    rescored = (
        corpus.select("vec_id", F.col("embedding").alias("ce"))
        .join(F.broadcast(shortlist.select("query_id", "vec_id")), "vec_id")
        .join(
            F.broadcast(
                queries.select("query_id", F.col("embedding").alias("qe"))
            ),
            "query_id",
        )
        .select(
            "query_id", "vec_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def write_pq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 16,
    ksub: int = 16,
    lloyd_rounds: int = 2,
    store_vectors: bool = False,
) -> None:
    """Build + persist an IVF-PQ index — FAISS's train-once /
    probe-many contract for the compressed-index family (every sibling
    family here already has it; this closes the one gap where PQ — the
    index designed FOR billion-scale — retrained per call).

    Layout (the shared commit-partition idiom, manifest written LAST):
      codes/      (vec_id, code array<int>) partitioned by
                  (commit, centroid_id) — code[sub] is the vector's
                  residual codeword in subspace `sub`, so a vector
                  costs m small ints, not D floats; the partition
                  column IS the IVF routing key, so a probe scans
                  nprobe/n_centroids of the dirs (the per-list file
                  layout of IndexIVFPQ, expressed as partition dirs)
      centroids/  coarse quantizer (n_centroids rows, broadcast-sized)
      codebooks/  residual PQ codebooks (m*ksub rows, broadcast-sized)
      meta/       (n_centroids, m, ksub, lloyd_rounds) — probes and
                  appends read the frozen model parameters from here
      manifest/   the commit marker

    Training is _ivfpq_train — the exact code path ivfpq_search runs —
    so ivfpq_stored over this index returns byte-identical results to
    the in-memory search (test-pinned), and the full composed SQL
    oracle transfers unchanged. Raw embeddings are read at build time
    ONLY; at 100 TB the index is ~m bytes/vector + two tiny model
    tables, and probes never touch the corpus.

    `store_vectors=True` additionally persists `vectors/` (the raw
    embeddings, same partitioning) so ivfpq_stored_refine can run the
    exact rerank WITHOUT the source table — the self-contained
    serving-node deployment (DiskANN's store-full-precision-alongside
    trade): D floats/vector of extra storage buys corpus-free
    two-stage serving."""
    spark = corpus.sparkSession
    cents, cells, cb, codes, release = _ivfpq_train(
        corpus, n_centroids, m, ksub, lloyd_rounds
    )
    packed = (
        codes.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                lambda s: s.getField("cid"),
            ).alias("code")
        )
        .join(cells.select("vec_id", "centroid_id"), "vec_id")
    )
    _write_commit(packed, path, "codes", "centroid_id", 0, build=True)
    if store_vectors:
        _write_commit(
            corpus.select("vec_id", "embedding")
            .join(cells.select("vec_id", "centroid_id"), "vec_id"),
            path, "vectors", "centroid_id", 0, build=True,
        )
    cents.select("centroid_id", F.col("cvec").cast("array<double>").alias("cvec")) \
        .repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    cb.select("sub", "cid", F.col("cvec").cast("array<double>").alias("cvec")) \
        .repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(int(n_centroids), int(m), int(ksub), int(lloyd_rounds))],
        "n_centroids int, m int, ksub int, lloyd_rounds int",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/meta")
    _write_index_manifest(spark, path, [0])
    for df_ in release:
        df_.unpersist()


def _pq_append(
    spark, path: str, new_vectors: DataFrame, nxt: int, _commits: list
) -> None:
    """The IVF-PQ encode-on-append stage (see _commit): assign the new
    vectors to the FROZEN coarse quantizer, encode their residuals
    with the FROZEN codebooks (IndexIVFPQ.add_with_ids — nothing is
    retrained) and land the packed codes, plus the raw vectors when
    the index keeps the `vectors/` sidecar."""
    meta = spark.read.parquet(f"{path}/meta").first()
    m = int(meta.m)
    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks")
    cells = _nearest_centroids(
        new_vectors.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", 1,
    )
    resid = cells.join(F.broadcast(cents), "centroid_id").select(
        "vec_id",
        "centroid_id",
        F.zip_with(
            F.col("ce"), F.col("cvec"), lambda x, y: x.cast("double") - y
        ).alias("r"),
    )
    rv = resid.select(
        "vec_id", "centroid_id", F.explode(_pq_subs("r", "v", m)).alias("sc")
    ).select(
        "vec_id", "centroid_id",
        F.col("sc.sub").alias("sub"), F.col("sc.v").alias("v"),
    )
    # frozen-codebook encode: same argmin-L2 (6dp, ties to lowest cid)
    # min_by aggregation _ivfpq_train's _assign uses
    dv = F.zip_with(F.col("v"), F.col("cvec"), lambda x, y: x - y)
    codes = (
        rv.join(F.broadcast(cb), "sub")
        .withColumn("d2", F.round(_subdot(dv, dv), 6))
        .groupBy("vec_id", "centroid_id", "sub")
        .agg(F.min_by("cid", F.struct(F.col("d2"), F.col("cid"))).alias("cid"))
    )
    packed = codes.groupBy("vec_id", "centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cid"))),
            lambda s: s.getField("cid"),
        ).alias("code")
    ).select("vec_id", "code", "centroid_id")
    _write_commit(packed, path, "codes", "centroid_id", nxt)
    # a store_vectors=True index keeps its raw-vector sidecar in step
    from agni_spark.sources.layout import _fs_exists

    if _fs_exists(spark, f"{path}/vectors"):
        _write_commit(
            new_vectors.select("vec_id", "embedding")
            .join(cells.select("vec_id", "centroid_id"), "vec_id"),
            path, "vectors", "centroid_id", nxt,
        )


def append_pq_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """Incremental IVF-PQ maintenance (IndexIVFPQ.add_with_ids
    semantics): assign ONLY the new vectors to the index's FROZEN
    coarse quantizer, encode their residuals with the FROZEN
    codebooks — nothing is retrained, matching FAISS's add() contract
    — and land the packed codes in a fresh `commit=` partition;
    manifest rewrite LAST is the commit point (see _commit). O(new
    rows), no index rewrite. `batch_id` gives streaming callers the
    same replay idempotency as every append here (recorded atomically
    in the manifest; <= the app's applied id -> skip, None)."""
    return _commit(
        spark, path, PQ_INDEX_SUBDIRS,
        partial(_pq_append, spark, path, new_vectors),
        batch_id=batch_id, app_id=app_id,
    )


def upsert_pq_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """UPSERT into a stored IVF-PQ index — composition of the scoped
    tombstone (hides the ids' OLDER code/vector rows only, see
    upsert_ivf_index for the full semantics/crash contract) with the
    frozen-model append: the replacement vectors re-encode against the
    frozen quantizer + codebooks and land with the tombstone under one
    manifest swap. The codes probe and the vectors sidecar rerank both
    apply the horizon-scoped exclusion, so exactly the live encoding
    of each id is served. Returns the new commit id. `batch_id`: the
    streaming replay contract of _commit — checked BEFORE the
    tombstone write (None when already applied)."""
    return _commit(
        spark, path, PQ_INDEX_SUBDIRS + [("tombstones", None)],
        partial(_pq_append, spark, path, new_vectors), batch_id=batch_id,
        app_id=app_id, scoped=(new_vectors, "vec_id"),
    )


class PQIndexHandle(IvfIndexHandle):
    """An OPENED stored IVF-PQ index: the shared coarse-routed handle
    (meta row with the frozen m/ksub, centroid table, committed codes
    `scan`, tombstones — see IvfIndexHandle) plus the frozen residual
    codebooks `cb`. Probes through a handle skip the per-call
    meta/manifest/model reads; `as_of` time travel is sound because
    the coarse quantizer and codebooks are frozen at build time, so
    every historical commit was encoded against the same model."""

    kind = "pq"

    def __init__(self, spark, path: str, as_of: int | None = None):
        super().__init__(spark, path, as_of)
        self.cb = spark.read.parquet(f"{path}/codebooks")


def open_pq_index(
    spark, path: str, as_of: int | None = None
) -> PQIndexHandle:
    """Open a stored IVF-PQ index for repeated probing (see
    PQIndexHandle). `as_of=N` opens the commit-N snapshot."""
    return PQIndexHandle(spark, path, as_of=as_of)


def ivfpq_stored(
    spark, index, queries: DataFrame, k: int = 10, nprobe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probe a stored IVF-PQ index: route each query to its nprobe
    nearest coarse centroids (broadcast centroid table), scan ONLY the
    probed `centroid_id=` partition dirs of the codes store (the join
    key is the partition column — dynamic partition pruning), unpack
    the code arrays, and run the shared ADC decomposition
    (_ivfpq_adc). All ADC factor tables are rebuilt per query batch
    from the tiny stored codebooks — queries-sized work — and the only
    corpus-sized table in flight is the pruned (ints-only) codes scan;
    raw embeddings are never read. Results are identical to
    ivfpq_search(corpus, queries, <build params>) — training is the
    same code path — so the full composed SQL oracle transfers
    unchanged (simsearch_ivfpq_stored), and the per-call cost drops
    from a training job (~10s at sf0.1) to a probe.

    `index` is a path or an open PQIndexHandle (serving callers open
    once, probe many — meta/manifest/model reads amortize).

    `allowed` (optional): filtered vector search, same contract as
    ivf_ann_stored — a (vec_id) allow-set semi-joined above the probes
    join restricts candidates BEFORE the ADC rank (post-filter
    semantics, may return < k; the pruned codes scan is untouched and
    the filter runs before the per-subspace explode, so disallowed
    candidates never expand to m rows)."""
    h = index if isinstance(index, PQIndexHandle) else PQIndexHandle(
        spark, index
    )
    m, cents, cb = int(h.meta.m), h.cents, h.cb
    probes = _nearest_centroids(
        queries.select("query_id", F.col("embedding").alias("qe")),
        cents, "query_id", "qe", nprobe,
    ).select("query_id", "centroid_id")
    cand = (
        h.scan
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    if allowed is not None:
        cand = cand.join(
            allowed.select("vec_id").distinct(), "vec_id", "semi"
        )
    # deletes drop before the explode AND the rank: a tombstoned
    # candidate never expands to m rows, survivors fill k
    cand = _anti_tombstones(cand, h.tombstones)
    cand_codes = cand.select(
        "query_id", "vec_id", "centroid_id",
        F.posexplode("code").alias("sub", "cid"),
    )
    return _ivfpq_adc(cents, cb, cand_codes, queries, k, m)


def ivfpq_stored_refine(
    spark,
    path: str,
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    rfactor: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Two-stage serve from the stored index (FAISS IVFPQR shape):
    ADC shortlist of k*rfactor candidates from the codes store, exact
    cosine re-rank against the raw vectors. The shortlist is
    parameter-bounded (q*k*rfactor rows), so it BROADCASTS into one
    narrow vector scan — the corpus never shuffles; total serving cost
    is one pruned codes probe + one scan. Matches
    ivfpq_refine(corpus, queries, <build params>) exactly.

    `corpus=None` reads the raw vectors from the index's own
    `vectors/` sidecar (write_pq_index(store_vectors=True)) — fully
    self-contained serving, no source table needed."""
    shortlist = ivfpq_stored(spark, path, queries, k=k * rfactor,
                             nprobe=nprobe)
    if corpus is None:
        # the sidecar scan gets the same scoped tombstone exclusion as
        # the codes probe: after an upsert an id has a superseded AND a
        # live vector row — joining the shortlist on vec_id alone would
        # rescore both (the delete case needs no filter here, the
        # shortlist already dropped the id, but it costs nothing)
        commits = _committed(spark, path)
        corpus = _anti_tombstones(
            spark.read.parquet(f"{path}/vectors")
            .where(F.col("commit").isin(commits))
            .select("vec_id", "embedding", "commit"),
            _tombstones(spark, path, commits),
        ).drop("commit")
    rescored = (
        corpus.select("vec_id", F.col("embedding").alias("ce"))
        .join(F.broadcast(shortlist.select("query_id", "vec_id")), "vec_id")
        .join(
            F.broadcast(
                queries.select("query_id", F.col("embedding").alias("qe"))
            ),
            "query_id",
        )
        .select(
            "query_id", "vec_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def graph_entry_medoids(
    corpus: DataFrame, n_entries: int, centroids: DataFrame | None = None,
) -> DataFrame:
    """Multi-entry points for graph ANN: the MEDOID of each of
    `n_entries` seeded-kmeans cells (the cell member closest to its
    centroid, ties to the lowest vec_id) — the HNSW upper-layer idea
    with the coarse quantizer standing in for the layer hierarchy.
    Why it matters: a kNN graph over CLUSTERED data is typically
    disconnected (each cluster's edges stay inside it), so a single
    entry can never walk into another cluster; one entry per cell
    guarantees every query starts a beam inside (or near) its own
    cluster. Deterministic: seeded centroids + 6dp rounding + id
    tie-breaks. Returns <= n_entries `node` rows (bounded — always
    broadcastable).

    `centroids` (round-14): a precomputed ivf_centroids(corpus,
    n_entries) table — callers that already trained the same coarse
    quantizer for the edge build (graph_ann / write_graph_index with
    n_entries == the kNN graph's n_centroids) pass it in instead of
    paying an identical second k-means training pass."""
    cents = (
        centroids if centroids is not None
        else ivf_centroids(corpus, n_entries)
    )
    # each vector's OWN cell (argmax sim) — a pure projection via the
    # literal-inlined _nearest_centroids (round-15, same rewrite as
    # the assignment callers, guide §2.4): the r14 max_by shape still
    # hash-exchanged one (vec_id, centroid_id, sim) row per vector to
    # merge groups that the projection computes partition-locally.
    # sim is _nearest_centroids' round(dot/sqrt(na*nb), 6) — the same
    # sequential fold `cosine` ran here before, bit for bit (cvec is
    # double, so cosine's nb cast-fold is the same IEEE sequence as
    # the Python pre-fold). The only exchange left in this operator is
    # the n_entries-group min_by below.
    own_cell = _nearest_centroids(
        corpus.select("vec_id", F.col("embedding").alias("ce")),
        cents, "vec_id", "ce", 1, keep_sim=True,
    ).select("vec_id", "centroid_id", "sim")
    return (
        own_cell
        .groupBy("centroid_id")
        .agg(
            F.min_by(
                "vec_id", F.struct((-F.col("sim")).alias("ns"), F.col("vec_id"))
            ).alias("node")
        )
        .select("node")
        .distinct()
    )


# Driver-state ceiling for _graph_walk: the scored/frontier dicts are
# bounded by queries * (1 + (U*hops_upper + hops*beam)*degree) entries
# (times the prefetch factor); above this the walk SHARDS the query
# batch (walks are per-query independent, so sharding is result-
# identical) instead of growing the driver heap. ~5M entries ≈ a few
# hundred MB of dict — safe on any driver.
_BEAM_MAX_STATE = 5_000_000


def _walk_result_df(spark, out: list) -> DataFrame:
    """Materialize a walk's driver-local (query_id, vec_id, cos, rk)
    rows as a DataFrame through the Arrow pandas path — ~2x faster
    than the pickled-RDD list path for the serving edge's O(q*k) rows
    (measured 0.27s vs 0.47s per probe at local[32]); falls back to
    the list path for empty results (no Arrow batch to build)."""
    schema = "query_id long, vec_id long, cos double, rk int"
    if not out:
        return spark.createDataFrame(out, schema)
    import pandas as pd

    pdf = pd.DataFrame(out, columns=["query_id", "vec_id", "cos", "rk"])
    return spark.createDataFrame(pdf, schema)


def _graph_expander(
    nodes: DataFrame, layer_edges: list, q: DataFrame,
    n_buckets: int | None = None,
):
    """The one plan builder behind every graph-walk action, in-memory
    and stored: `nodes` is the (node, ce) vector scan, `layer_edges[l]`
    the (node, dst) edges of layer l, `q` the (query_id, qe) batch.
    `n_buckets` is the routing step: a stored index joins every scan on
    (bucket, node) — the key starts with the partition column, so each
    scan prunes to the frontier's bucket dirs — and None (the in-memory
    graph) joins on node alone.

    Returns expand(fr, layer, depth, with_scores) -> (query_id, src,
    node, cos, lvl): lvl-d rows (d = 1..depth) are the layer's
    neighbours of the lvl-(d-1) nodes, TAGGED with the parent they
    hang off (`src`), so one action prefetches `depth` beam rounds and
    the driver applies each round's exact parent restriction off the
    tags. `with_scores` adds the frontier's own scores (lvl 0, src
    NULL); depth 0 is the plain scoring of `fr`. Every candidate set
    is parameter-bounded (<= q*beam*deg^depth rows), so it broadcasts
    into the corpus-sized scans, and ONE nodes pass scores all levels.
    NO mid-plan distinct: each is a shuffle stage on a tiny set
    (measured ~0.2s of pure stage latency per hop at the serving edge,
    ~1/3 of the probe); duplicate candidates rescore to the same 6dp
    value and the driver dict drops them, while the state guard
    budgets the full degree product."""

    def _route(scan: DataFrame, df: DataFrame) -> DataFrame:
        if n_buckets is None:
            return scan.join(F.broadcast(df), "node")
        bucket = F.pmod(F.hash("node"), F.lit(n_buckets)).cast("int")
        return scan.join(
            F.broadcast(df.withColumn("bucket", bucket)), ["bucket", "node"]
        )

    def expand(fr: DataFrame, layer: int, depth: int, with_scores: bool):
        levels = []
        if with_scores:
            levels.append(fr.select(
                "query_id", F.lit(None).cast("long").alias("src"),
                "node", F.lit(0).alias("lvl"),
            ))
        parents = fr
        for lvl in range(1, depth + 1):
            hop = _route(layer_edges[layer], parents).select(
                "query_id", F.col("node").alias("src"),
                F.col("dst").alias("node"),
            )
            levels.append(hop.withColumn("lvl", F.lit(lvl)))
            parents = hop.select("query_id", "node")
        cand = levels[0]
        for lv in levels[1:]:
            cand = cand.unionByName(lv)
        return (
            _route(nodes, cand)
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id", "src", "node",
                F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
                "lvl",
            )
        )

    return expand


def _graph_walk(
    spark,
    qids: list,
    entry_nodes: list,
    expand,
    k: int,
    beam: int,
    hops: int,
    hops_upper: int = 0,
    n_upper: int = 0,
    max_degree: int = 8,
) -> DataFrame:
    """Driver-COORDINATED layered graph walk shared by graph_ann and
    graph_ann_stored — HNSW search (Malkov & Yashunin), of which NSW
    beam search is the case with no upper layer (n_upper = 0). The
    frontier/visited state is parameter-bounded, so it lives on the
    driver and each action is ONE Spark job (expand the frontier along
    edges + score the candidates, both JVM-side and corpus-pruned,
    built by _graph_expander). The DataFrame-loop alternative pays a
    broadcast-exchange + checkpoint job tower per hop — measured 8-10s
    per probe at sf0.01 vs ~1s here.

    The walk: score the entries; greedily descend the upper layers,
    top first — per layer, `hops_upper` beam=1 rounds from the best
    node scored so far; then `hops` layer-0 beam rounds. A round scores
    the unseen neighbours of the frontier and keeps the `beam` best
    new nodes per query. Layer 0 starts from the best `beam` nodes of
    the descent, or — with no upper layer — from EVERY entry (the two
    differ once n_entries > beam). Answer: top-k of everything scored,
    self-matches excluded. Fixed round counts, 6dp scores and (cos
    DESC, node ASC) ties make it deterministic, so the unrolled-hop
    DuckDB mirrors stay FULL oracles.

    Action fusion: the first action also scores the entries (lvl 0),
    expanding from all of them — the driver then picks the layer's
    starting frontier and restricts round 1 to its children — and
    every action prefetches up to 3 rounds of one layer (src-tagged
    levels, see _graph_expander): a round admits the prefetched rows
    whose parent won the previous round's beam, exactly the
    sequential walk's candidate sets, so selection is byte-identical
    at every depth (test-pinned) and the serving-default hops=3 flat
    probe is ONE action end to end.

    State-size contract (ENFORCED): the per-query bound 1 + (n_upper*
    hops_upper*deg + hops*beam*deg)*spec is computed up front from
    `max_degree` (the graph's knn fan-out, read from the build params /
    index meta), spec = 1 + deg + ... + deg^(depth-1) the prefetch
    factor. TIERED SPECULATION: the deepest prefetch depth whose budget
    serves the whole batch in one chunk wins — on an appended/
    compacted graph with a large hub degree the depth-3 budget would
    otherwise shard the batch into near-single-query chunks, 8x the
    actions for prefetch rows a shallower walk never materializes. If
    even the sequential tier (spec 1) cannot fit one chunk, the batch
    is SHARDED on it: the per-query walks never interact, so sharded
    output is identical (test-pinned) and the driver heap stays
    bounded at _BEAM_MAX_STATE whatever the batch size."""
    deg = max(1, max_degree)

    def _per_q(spec: int) -> int:
        return 1 + (n_upper * hops_upper * deg + hops * beam * deg) * spec

    for depth in (3, 2, 1):
        spec = sum(deg ** i for i in range(depth))
        if len(qids) * _per_q(spec) <= _BEAM_MAX_STATE:
            break
    chunk = max(1, _BEAM_MAX_STATE // _per_q(spec))
    # (layer, rounds, beam width), top layer first
    schedule = [(lv, hops_upper, 1) for lv in range(n_upper, 0, -1)]
    schedule.append((0, hops, beam))

    def fr_df(pairs):
        return spark.createDataFrame(list(pairs), "query_id long, node long")

    def _top(cand: dict, n: int) -> set:
        by_q: dict = {}
        for (qd, node), cos in cand.items():
            by_q.setdefault(qd, []).append((cos, node))
        return {
            (qd, node)
            for qd, lst in by_q.items()
            for cos, node in sorted(lst, key=lambda t: (-t[0], t[1]))[:n]
        }

    def _walk_chunk(chunk_qids: list) -> list:
        scored: dict = {}
        start = [(int(qd), int(n)) for qd in chunk_qids for n in entry_nodes]
        fresh = True  # entry scores ride on the first action
        for layer, rounds, width in schedule:
            frontier = set(start) if fresh else _top(scored, width)
            while rounds > 0 and frontier:
                d = min(rounds, depth)
                levels: list = [[] for _ in range(d + 1)]
                for r in expand(fr_df(frontier), layer, d, fresh).collect():
                    levels[r.lvl].append(r)
                for r in levels[0]:
                    scored[(r.query_id, r.node)] = r.cos
                if fresh and n_upper:
                    frontier = _top(scored, width)
                fresh = False
                for rows in levels[1:]:
                    new: dict = {}
                    for r in rows:
                        key = (r.query_id, r.node)
                        if (
                            (r.query_id, r.src) in frontier
                            and key not in scored
                            and key not in new
                        ):
                            new[key] = r.cos
                    scored.update(new)
                    frontier = _top(new, width)
                rounds -= d
        if fresh:  # no round at all: the entry scores are the answer
            for r in expand(fr_df(start), 0, 0, True).collect():
                scored[(r.query_id, r.node)] = r.cos
        by_q: dict = {}
        for (qd, node), cos in scored.items():
            if node != qd:
                by_q.setdefault(qd, []).append((cos, node))
        return [
            (qd, node, float(cos), rk)
            for qd in sorted(by_q)
            for rk, (cos, node) in enumerate(
                sorted(by_q[qd], key=lambda t: (-t[0], t[1]))[:k], 1
            )
        ]

    out = []
    for i in range(0, len(qids), chunk):
        out.extend(_walk_chunk(qids[i:i + chunk]))
    return _walk_result_df(spark, out).orderBy("query_id", "rk")


def _graph_probe(
    spark,
    nodes: DataFrame,
    layer_edges: list,
    entry_nodes: list,
    queries: DataFrame,
    k: int,
    beam: int,
    hops: int,
    hops_upper: int,
    max_degree: int,
    allowed: DataFrame | None = None,
    tombstones: DataFrame | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """The one probe body of graph_ann and graph_ann_stored: the
    layered walk over `layer_edges` (see _graph_expander for the scans
    and routing), then the allowed/tombstone post-filter. A filtered or
    deleted probe ranks the walk's FULL visited set (bounded by the
    same state-guard contract) and restricts it before the final top-k
    — the walk itself never changes: it may route THROUGH disallowed or
    tombstoned nodes for navigability, it just can't return them. Each
    restriction set is streamed once against the BROADCAST of the
    walk's bounded result, never shuffled."""
    q = queries.select("query_id", F.col("embedding").alias("qe"))
    qids = [r.query_id for r in queries.select("query_id").collect()]
    post = allowed is not None or tombstones is not None
    res = _graph_walk(
        spark, qids, entry_nodes,
        _graph_expander(nodes, layer_edges, q, n_buckets),
        1 << 30 if post else k, beam, hops, hops_upper,
        n_upper=len(layer_edges) - 1, max_degree=max_degree,
    )
    if not post:
        return res
    flt = _anti_tombstones_bounded(
        res.select("query_id", "vec_id", "cos"), tombstones
    )
    if allowed is not None:
        flt = allowed.select("vec_id").distinct().join(
            F.broadcast(flt), "vec_id"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        flt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk")
        )
        .orderBy("query_id", "rk")
    )


def graph_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    knn: int = 5,
    beam: int = 8,
    hops: int = 3,
    n_entries: int = 1,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Graph-based ANN: greedy BEAM SEARCH over the kNN neighbor graph
    — the NSW/HNSW search idea (Malkov & Yashunin, single-layer
    variant) re-expressed as a fixed number of relational hops:

      frontier_0 = the deterministic entry point (min vec_id — HNSW's
                   fixed top-layer entry);
      each hop: expand frontier along graph edges, score ONLY the
      newly-seen nodes against the query (anti-join on the visited
      set), keep the `beam` best new nodes as the next frontier;
      answer: top-k of everything scored, self-matches excluded.

    Fixed hop count + 6dp-rounded scores + (cos DESC, node ASC)
    tie-breaks make the walk fully deterministic, so the DuckDB
    mirror (unrolled hops, like the PageRank oracle) is a FULL
    oracle, not a recall bound. Recall floor vs exact is pinned in
    tests/test_llm_ops.py alongside ivf/ivfpq/lsh.

    Scale: the graph (n*knn edges) is the stored artifact — the only
    corpus-sized tables in flight are the edge and node scans, and the
    bounded frontier BROADCASTS into them, so no corpus-sized shuffle
    ever happens; per hop the per-query work is <= beam*knn candidate
    rows, independent of corpus size. The walk and the probe tail are
    graph_ann_stored's (see _graph_probe), run over the persisted
    edge build and routed on `node` alone: one Spark job per up to
    three hops, state bounded by the same contract that lets the
    frontier broadcast.

    `allowed` (optional, round 11 — API symmetry with the stored
    families, which all take it): a one-column (vec_id) allow-set with
    the same post-filter semantics as graph_ann_stored's — the walk
    stays unrestricted for navigability, the final top-k ranks only
    allow-set survivors among everything the walk scored (built-in
    over-retrieval, pinned to dominate post-hoc filtering). A user
    prototyping in memory and moving to the stored index hits no API
    cliff. May return < k rows when the walk's neighborhood holds
    fewer than k allowed nodes."""
    spark = corpus.sparkSession
    # one coarse-quantizer training shared by the edge build and (when
    # n_entries matches its cell count) the entry-medoid selection —
    # the old shape trained the identical seeded kmeans twice
    cents = ivf_centroids(corpus, 8)
    edges = (
        knn_graph(corpus, k=knn, centroids=cents)
        .select(F.col("query_id").alias("node"), F.col("vec_id").alias("dst"))
        .persist()  # hops re-join the same edge table
    )
    nodes = corpus.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("ce")
    )
    # n_entries=1 keeps the original deterministic min-id entry (and
    # the unchanged oracle); >1 starts every query's beam from one
    # medoid per kmeans cell — see graph_entry_medoids
    entry = (
        corpus.agg(F.min("vec_id").alias("node"))
        if n_entries <= 1
        else graph_entry_medoids(
            corpus, n_entries, centroids=cents if n_entries == 8 else None
        )
    )
    out = _graph_probe(
        spark, nodes, [edges], [r.node for r in entry.collect()], queries,
        k, beam, hops, 0, knn, allowed=allowed,
    )
    edges.unpersist()
    return out


def hnsw_level(layer_mult: int, layers: int, col: str = "vec_id"):
    """Deterministic geometric layer assignment (HNSW's level sampler,
    derandomized): a node's max layer is the largest l < `layers` with
    hash60(vec_id) divisible by layer_mult^l — P(level >= l) =
    layer_mult^-l, the geometric distribution HNSW draws, but derived
    from md5 so the DuckDB oracle restates it verbatim. Being a pure
    function of the id, a node's level is knowable ANYWHERE — build,
    append, oracle — without storing it (`col` names the id column)."""
    from agni_spark.functions.dedup import hash60

    h = hash60(F.col(col).cast("string"))
    e = F.lit(0)
    for lvl in range(1, layers):
        e = F.when(h % F.lit(layer_mult ** lvl) == 0, F.lit(lvl)).otherwise(e)
    return e


def _upper_layer_edges(
    corpus: DataFrame,
    entries: list[int],
    lvl: int,
    layers: int,
    layer_mult: int,
    knn: int,
) -> DataFrame:
    """Layer-l (l >= 1) HNSW edge set, shared by build and compaction:
    the kNN graph over the layer's members (deterministic geometric
    level >= l, see hnsw_level, plus the entry nodes HNSW promotes to
    every layer). Built with the BUCKETED knn_graph (IVF-probed: a
    seeded 8-cell quantizer trained on the members, each member probes
    its 2 nearest cells, exact rerank inside them) — NOT an exact
    all-pairs cosine_topk, whose queries-side broadcast is a corpus
    FRACTION: layer-1 membership is ~n/layer_mult, so at 1B vectors
    the old exact build would broadcast ~125M rows and score n^2/64
    pairs — dead long before 100 TB. knn_graph joins cells on the
    centroid partition key and broadcasts nothing bigger than the
    8-row centroid table (plan-asserted in tests/test_llm_ops.py).
    Still fully deterministic (seeded quantizer, 6dp, id tie-breaks),
    so the layered probe keeps a FULL SQL oracle — the oracle's
    upper-edge CTE is the same IVF chain over the member set."""
    members = corpus.where(
        (hnsw_level(layer_mult, layers) >= lvl)
        | F.col("vec_id").isin(entries)
    ).select("vec_id", "embedding")
    return knn_graph(members, k=knn).select(
        F.col("query_id").alias("node"), F.col("vec_id").alias("dst")
    ).withColumn("layer", F.lit(lvl))


# graph-index meta schema (round 11): versioned per writer commit.
# `n_entries` persists the BUILD-time entry-count parameter (the entry
# refresh at compaction must not infer it from len(entries) — medoids
# can coincide/dedupe, and a refresh sized off the shrunken list would
# shrink the entry set monotonically across compactions). `max_deg` is
# the walk state-guard's per-layer max out-degree UPPER BOUND,
# maintained where the edges are already in hand (build: exactly knn,
# the kNN-graph's top-k cap; append: old bound + the batch's max
# per-(node,layer) new-edge count — a true bound, since any node's new
# degree <= old max + its own delta; compact: exact recompute over the
# folded edges). Persisting it kills the corpus-sized edge aggregation
# the round-10 handle ran at serving open. Both columns are nullable:
# a legacy flat-meta index has neither, and the handle falls back to
# measuring.
_GRAPH_META_SCHEMA = (
    "entry long, entries array<long>, n_buckets int, knn int, "
    "layers int, layer_mult int, n_entries int, max_deg int"
)


def _write_graph_meta(
    spark, path: str, commit: int, entries: list[int], n_buckets: int,
    knn: int, layers: int, layer_mult: int, n_entries: int,
    max_deg: int | None,
) -> None:
    """VERSIONED meta write (round 11): one row under
    `meta/commit={commit}`, resolved by readers via the manifest (see
    _read_graph_meta) — the meta-tier instance of the commit-partition
    idiom every data subdir here already uses. Writing meta per commit
    (instead of mode('overwrite') on the live flat dir) makes the
    compactor's entry/bound refresh CRASH-SAFE: the refreshed meta
    lands before the manifest, but readers resolve meta with
    commit <= max(manifest commits), so a crashed compact/append's
    meta — like its data — is invisible until the manifest flips, and
    the old index keeps serving with the meta it was built/probed
    with. This closes both round-10 windows: the non-atomic
    delete-then-write on the live meta dir (a crash mid-overwrite left
    NO meta at all) and the new-meta/old-manifest inconsistency (on a
    layered index a refreshed entry need not be an upper-layer member
    of the OLD graph, silently degrading the descent)."""
    spark.createDataFrame(
        [(
            int(entries[0]), [int(e) for e in entries], int(n_buckets),
            int(knn), int(layers), int(layer_mult), int(n_entries),
            int(max_deg) if max_deg is not None else None,
        )],
        _GRAPH_META_SCHEMA,
    ).repartition(1).write.mode("overwrite").parquet(
        f"{path}/meta/commit={commit}"
    )


def _read_graph_meta(spark, path: str, commits: list[int]):
    """Resolve the meta row for a committed snapshot: the newest
    `meta/commit=` <= max(manifest commits) — i.e. the meta written by
    the writer that produced the snapshot's newest commit (builds and
    versioned appends/compacts each write one; a crashed writer's meta
    carries a commit id the manifest never listed, so it resolves
    away). Legacy flat-meta indexes (pre-round-11) have no `commit`
    partition column and read as before. The meta scan is one tiny
    one-row-per-writer parquet dir either way."""
    df = spark.read.parquet(f"{path}/meta")
    if "commit" in df.columns:
        cmax = max(commits) if commits else 0
        row = (
            df.where(F.col("commit") <= cmax)
            .orderBy(F.col("commit").desc())
            .first()
        )
        if row is not None:
            return row
    return df.first()


def _meta_field(meta, name, default=None):
    """Nullable/absent-tolerant meta field read (legacy schemas lack
    the newer columns entirely)."""
    if name in meta.__fields__ and meta[name] is not None:
        return meta[name]
    return default


def _commit_edge_degree_bound(spark, path: str, nxt: int) -> int:
    """Max per-(node, layer) out-degree over ONE just-written
    `edges/commit={nxt}` partition dir — the append/compact writers'
    degree-bound input. Reads only the new commit's files (append:
    batch-sized; compact: the folded set it just wrote anyway), never
    the whole committed edge corpus; column-pruned to the grouping
    keys with map-side partial counts."""
    d = spark.read.parquet(f"{path}/edges/commit={nxt}")
    keys = ["node", "layer"] if "layer" in d.columns else ["node"]
    row = (
        d.groupBy(*[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d"))
        .first()
    )
    return int(row[0]) if row[0] is not None else 0


def write_graph_index(
    corpus: DataFrame,
    path: str,
    knn: int = 5,
    n_buckets: int = 16,
    n_entries: int = 1,
    layers: int = 1,
    layer_mult: int = 8,
) -> None:
    """Build + persist the graph-ANN index: `edges/` (the kNN graph)
    and `nodes/` (id + vector, for scoring) both parquet-partitioned
    by (commit, bucket = hash(node) % n_buckets), plus `meta/` (the
    deterministic entry point(s) + n_buckets) and `manifest/` written
    LAST (the block-store commit idiom every stored index here uses).
    `n_entries > 1` bakes one kmeans-cell medoid per cell as the entry
    set (see graph_entry_medoids) — entry selection is a BUILD-time
    decision, stored in meta, so every prober walks the same graph the
    same way.

    `layers > 1` adds HNSW-style UPPER LAYERS: every edge carries a
    `layer` column; layer 0 is the full kNN graph, and layer l >= 1 is
    the BUCKETED kNN graph (knn_graph — IVF-probed, never an all-pairs
    broadcast; see _upper_layer_edges) over the nodes whose
    deterministic geometric level (see hnsw_level) is >= l — plus the
    entry nodes, which HNSW always promotes to the top so the descent
    can start there. Upper
    layers hold ~layer_mult^-l of the corpus, so their links span
    layer_mult^l-fold longer ranges: the probe greedily descends them
    (beam=1) before the layer-0 beam search, which is what keeps
    recall flat as the corpus grows WITHOUT raising layer-0 hops
    (Malkov & Yashunin's log-length path argument). Everything stays
    deterministic (md5 levels, 6dp, id tie-breaks) -> full SQL oracle.

    Bucket-partitioning is the probe's scale lever: each beam-search
    hop joins a <= beam*queries frontier against edges/nodes ON THE
    BUCKET COLUMN, so the scan reads only the frontier's bucket
    directories (dynamic partition pruning) — never the whole graph."""
    spark = corpus.sparkSession
    # share one quantizer training between entry medoids and the edge
    # build (same dedup as graph_ann — guide §1.2, don't compute twice)
    cents = ivf_centroids(corpus, 8)
    if n_entries <= 1:
        entries = [int(corpus.agg(F.min("vec_id")).first()[0])]
    else:
        entries = sorted(
            int(r.node)
            for r in graph_entry_medoids(
                corpus, n_entries,
                centroids=cents if n_entries == 8 else None,
            ).collect()
        )
    edges = knn_graph(corpus, k=knn, centroids=cents).select(
        F.col("query_id").alias("node"), F.col("vec_id").alias("dst")
    ).withColumn("layer", F.lit(0))
    for lvl in range(1, layers):
        edges = edges.unionByName(
            _upper_layer_edges(corpus, entries, lvl, layers, layer_mult, knn)
        )
    bucket = F.pmod(F.hash("node"), F.lit(n_buckets)).cast("int")
    _write_commit(
        edges.withColumn("bucket", bucket), path, "edges", "bucket", 0,
        build=True,
    )
    nodes = corpus.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("ce")
    )
    _write_commit(
        nodes.withColumn("bucket", bucket), path, "nodes", "bucket", 0,
        build=True,
    )
    # versioned meta at commit 0. max_deg = knn exactly: every layer's
    # edge set is a kNN-graph top-k, so no node's per-layer out-degree
    # can exceed knn at build time — no measurement needed.
    _write_graph_meta(
        spark, path, 0, entries, n_buckets, knn, layers, layer_mult,
        n_entries=n_entries, max_deg=knn,
    )
    _write_index_manifest(spark, path, [0])


def append_graph_index(
    spark, path: str, new_corpus: DataFrame, batch_id: int | None = None,
    app_id: str | None = None, _race_hook=None,
) -> int | None:
    """Incremental NSW insertion into a stored graph index: each new
    node links to its EXACT top-knn among the COMMITTED nodes
    (cosine_topk — the bounded new batch broadcasts into one scan of
    the stored nodes; the store never shuffles), plus the REVERSE
    links (NSW bidirectional insertion — old nodes' degree grows,
    which is what keeps new nodes reachable from the old entry
    points). New edges + node vectors land in a fresh `commit=`
    partition; the manifest is appended LAST (a crashed append is
    never served). knn/n_buckets come from the index meta, so append
    composes with compact_index/vacuum_index unchanged.

    Deterministic (6dp cosine, (cos DESC, id ASC) ties), so the probe
    over the appended graph has a FULL unrolled-hop SQL oracle
    (simsearch_graph_appended). Approximation note, as in NSW: old
    nodes' ORIGINAL knn lists are not recomputed against the new
    batch — insertion adds links, never rewrites history.

    LAYERED (HNSW) indexes keep their upper layers LIVE under appends
    (round 9): a new node's level is the same deterministic function
    of its id the builder used (hnsw_level — nothing to store), and
    each appended node of level >= l gets exact-kNN links at layer l
    among the COMMITTED layer-l members (level >= l, plus the entry
    nodes the builder always promotes) — forward AND reverse, the
    same bidirectional insertion as layer 0. Without this, sustained
    appends shrink the fraction of the corpus the upper layers
    describe and layered recall decays toward the flat walk's number
    (test-pinned: recall after a 2x append stays >= flat + 0.15)."""
    return _commit(
        spark, path, GRAPH_INDEX_SUBDIRS + [("meta", None), ("tombstones", None)],
        partial(_graph_insert, spark, path, new_corpus, None),
        batch_id=batch_id, app_id=app_id, race_hook=_race_hook,
    )


def upsert_graph_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """CDC UPSERT into a stored graph index (round 12) — the graph
    family's replace-or-insert, composing the two primitives it
    already had in ONE manifest swap: a HORIZON-SCOPED tombstone for
    the batch's vec_ids (hides strictly-older node rows, exactly the
    IVF/PQ/SQ/text upsert idiom) plus the ordered NSW insertion of the
    replacement vectors (append_graph_index's exact-kNN + reverse
    links, upper layers maintained). Everything — tombstones, edges,
    nodes, versioned meta — lands under `commit=N` first; the manifest
    append is LAST, so probes flip atomically from the old version of
    every id to the new one.

    Semantics the walk serves after the swap: the superseded node
    rows vanish from the node scan (an upserted id scores once, at
    its NEW vector — _hide_superseded), while the old rows' EDGES
    carry forward as routing history (NSW insertion never rewrites
    old adjacency; the stale-position links are extra navigability,
    the same argument as routing through deleted nodes). New links
    target the committed LIVE nodes excluding this batch's own keys —
    a replacement must not link to the stale version of itself or of
    a same-batch sibling. Deterministic, so the streamed multi-batch
    form has a FULL unrolled oracle (streaming_graph_upsert): batch 2
    links against batch 1's REPLACED vectors, the order-dependence
    that makes the external pin meaningful. Compaction
    (compact_graph_index) applies the horizon physically and drops
    the stale rows + nothing else; delete-wins composition is
    unchanged (a global tombstone's max horizon outranks any upsert).

    Replay contract (streaming): _commit's — the
    applied batch id is checked BEFORE any write, and a crash before
    the manifest append replays into the same commit id with every
    subdir cleared first. Returns the new commit id (None when the
    batch was already applied)."""
    new = new_vectors.select("vec_id", "embedding")
    return _commit(
        spark, path, GRAPH_INDEX_SUBDIRS + [("meta", None), ("tombstones", None)],
        partial(_graph_insert, spark, path, new, new.select("vec_id")),
        batch_id=batch_id, app_id=app_id, scoped=(new, "vec_id"),
    )


def _graph_insert(
    spark, path: str, new_corpus: DataFrame,
    link_exclude: DataFrame | None, nxt: int, commits: list,
) -> None:
    """The NSW insertion stage (see _commit) shared by
    append_graph_index / upsert_graph_index: computes the new nodes'
    forward+reverse links against the snapshot's committed LIVE node
    set (superseded upsert rows hidden — links must target each id's
    newest vector) and writes edges/nodes/meta under `commit=nxt`.
    `link_exclude` (upserts) removes the batch's own keys from the
    link targets."""
    meta = _read_graph_meta(spark, path, commits)
    versioned = "commit" in meta.__fields__
    n_buckets = int(meta.n_buckets)
    knn = int(meta.knn)
    layers = int(_meta_field(meta, "layers", 1))
    layer_mult = int(_meta_field(meta, "layer_mult", 8))
    entries = (
        [int(e) for e in meta.entries]
        if _meta_field(meta, "entries")
        else [int(meta.entry)]
    )
    old = _hide_superseded(
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("commit").isin(commits)),
        _tombstones(spark, path, commits),
    ).select(F.col("node").alias("vec_id"), F.col("ce").alias("embedding"))
    if link_exclude is not None:
        old = old.join(
            link_exclude.select("vec_id").distinct(), "vec_id", "left_anti"
        )
    new = new_corpus.select("vec_id", "embedding")
    fwd = cosine_topk(
        old,
        new.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=knn,
    ).select(F.col("query_id").alias("node"), F.col("vec_id").alias("dst"))
    edges_new = fwd.unionByName(
        fwd.select(F.col("dst").alias("node"), F.col("node").alias("dst"))
    ).withColumn("layer", F.lit(0))
    # upper-layer maintenance (layered indexes): each appended node of
    # deterministic level >= l links at layer l to its exact top-knn
    # among the committed layer-l members (level >= l, or an entry —
    # the builder promotes entries to every layer), forward + reverse.
    # The reverse links are what make the new node REACHABLE during
    # the descent; the forward links are what let the descent route
    # THROUGH it once the corpus grows past the old members.
    for lvl in range(1, layers):
        new_upper = new.where(
            hnsw_level(layer_mult, layers, "vec_id") >= lvl
        )
        old_upper = old.where(
            (hnsw_level(layer_mult, layers, "vec_id") >= lvl)
            | F.col("vec_id").isin(entries)
        )
        fwd_l = cosine_topk(
            old_upper,
            new_upper.select(F.col("vec_id").alias("query_id"), "embedding"),
            k=knn,
        ).select(F.col("query_id").alias("node"), F.col("vec_id").alias("dst"))
        edges_new = edges_new.unionByName(
            fwd_l.unionByName(
                fwd_l.select(
                    F.col("dst").alias("node"), F.col("node").alias("dst")
                )
            ).withColumn("layer", F.lit(lvl))
        )
    bucket = F.pmod(F.hash("node"), F.lit(n_buckets)).cast("int")
    _write_commit(
        edges_new.withColumn("bucket", bucket), path, "edges", "bucket", nxt
    )
    _write_commit(
        new.select(F.col("vec_id").alias("node"), F.col("embedding").alias("ce"))
        .withColumn("bucket", bucket),
        path, "nodes", "bucket", nxt,
    )
    if versioned and _meta_field(meta, "max_deg") is not None:
        # maintain the persisted state-guard degree bound where the new
        # edges are already on disk: any node's post-append per-layer
        # out-degree <= old bound + its OWN new-edge count <= old bound
        # + the batch's max delta. O(batch)-sized scan (the new commit
        # dir alone), so append cost stays independent of corpus size;
        # the slight over-estimate (the max-delta node need not be the
        # old max node) only tightens the walk's state guard, and
        # compaction recomputes the bound exactly.
        new_bound = int(meta.max_deg) + _commit_edge_degree_bound(
            spark, path, nxt
        )
        _write_graph_meta(
            spark, path, nxt, entries, n_buckets, knn, layers, layer_mult,
            n_entries=int(_meta_field(meta, "n_entries", len(entries))),
            max_deg=new_bound,
        )


def compact_graph_index(spark, path: str) -> int:
    """Graph-family compaction (see _compact_graph_index_once). Same
    bounded-retry contract as compact_index (round 14): one recompute
    against the fresh manifest on conflict, then surface."""
    try:
        return _compact_graph_index_once(spark, path)
    except ManifestConflictError:
        return _compact_graph_index_once(spark, path)


def _compact_graph_index_once(spark, path: str) -> int:
    """Graph-family compaction WITH UPPER-LAYER REBUILD. The generic
    compact_index rewrites partitions byte-preserving, which keeps
    layer-0 history but also freezes the upper layers' append-time
    approximation: appended upper nodes link only to members committed
    BEFORE them (two upper nodes of the same batch never link), so
    after sustained appends the upper graph drifts from what a fresh
    build would produce. This variant folds the committed commits into
    one AND recomputes every layer >= 1 from scratch over the full
    node set with exactly the builder's rule (bucketed knn_graph among
    level>=l members + entries — see _upper_layer_edges) — the
    compacted upper layers are IDENTICAL to a fresh build's on the
    same corpus (test-pinned). It also REFRESHES the entry medoids
    over the folded node set (builder's rule, deterministic), so
    entries frozen at build time cannot go stale as appends shift the
    corpus's cluster structure.
    Layer 0 carries forward unchanged: the insertion history IS the
    NSW graph, and a layer-0 rebuild would discard the reverse links
    that keep appended nodes reachable. NULL layers (legacy pre-layer
    files) normalize to 0. Crash-safe by the same manifest-last
    argument as compact_index (a crashed run's uncommitted commit dir
    is cleared and invisible); streaming batch-id provenance is
    carried onto the new commit. Returns the new commit id."""
    ver, rows, applied_map = _manifest_snapshot(spark, path)
    commits = [c for c, _ in rows]
    meta = _read_graph_meta(spark, path, commits)
    versioned = "commit" in meta.__fields__
    layers = int(_meta_field(meta, "layers", 1))
    layer_mult = int(_meta_field(meta, "layer_mult", 8))
    knn = int(meta.knn)
    n_buckets = int(meta.n_buckets)
    entries = (
        [int(e) for e in meta.entries]
        if _meta_field(meta, "entries")
        else [int(meta.entry)]
    )
    if len(commits) <= 1:
        return commits[0] if commits else -1
    # exclusive claim + anchored swap: same abort-on-concurrent-write
    # contract as compact_index (which see)
    nxt = _claim_commit_id(
        spark, path, rows,
        GRAPH_INDEX_SUBDIRS + [("tombstones", None)]
        + ([("meta", None)] if versioned else []),
    )
    nodes = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("commit").isin(commits))
        .select("node", "ce", "commit")
    )
    all_edges = spark.read.parquet(f"{path}/edges").where(
        F.col("commit").isin(commits)
    )
    # select layer only if present: a legacy pre-layer index has edge
    # files without the column at all — _layer0 handles both shapes
    keep = [c for c in ("node", "dst", "layer") if c in all_edges.columns]
    e0 = _layer0(all_edges.select(*keep)).select(
        "node", "dst"
    ).withColumn("layer", F.lit(0))
    # PHYSICAL DELETE point (round 11, see delete_from_index):
    # tombstoned nodes drop from the node store, layer-0 edges
    # touching them on EITHER side drop with them (the carried NSW
    # history must not reference rows that no longer exist), the
    # upper layers and entry medoids below rebuild over the SURVIVING
    # corpus, and the consumed tombstones are not carried — the dirs
    # become manifest orphans for vacuum. Until this compact, probes
    # excluded the ids at rank time while still routing through them;
    # after it, the graph genuinely no longer contains them (the NSW
    # deletion-degrades-connectivity caveat is why cleanup belongs at
    # compaction, where the uppers re-knit over the survivors).
    tombs = _tombstones(spark, path, commits)
    if tombs is not None:
        # horizon-aware (round 12, upserts): a SCOPED tombstone drops
        # only the superseded node rows (the replacement row's commit
        # >= horizon survives — id stays live at its newest vector); a
        # GLOBAL one (horizon=_TOMB_INF) drops the id entirely AND the
        # layer-0 edges touching it on either side. Scoped ids keep
        # their edges: stale-position links are carried NSW routing
        # history, same as append never rewriting old adjacency.
        nodes = _hide_superseded(nodes, tombs)
        gl = tombs.where(F.col("horizon") >= _TOMB_INF)
        nodes = nodes.join(
            gl.select(F.col("vec_id").alias("node")), "node", "left_anti"
        )
        e0 = e0.join(
            gl.select(F.col("vec_id").alias("node")), "node", "left_anti"
        ).join(
            gl.select(F.col("vec_id").alias("dst")), "dst", "left_anti"
        ).select("node", "dst", "layer")
    nodes = nodes.select("node", "ce")
    corpus = nodes.select(
        F.col("node").alias("vec_id"), F.col("ce").alias("embedding")
    )
    # ENTRY-MEDOID REFRESH: entries are a build-time decision frozen in
    # meta, so after appends bring unseen clusters the stale entry set
    # can't start a descent near the new regions — the same decay the
    # multi-entry design exists to fix, one level up. Compaction is the
    # natural refresh point: recompute the builder's exact rule over
    # the FOLDED node set (n_entries<=1 -> global min id; else one
    # kmeans-cell medoid per cell — both deterministic, so the composed
    # oracle stays FULL) and rewrite meta alongside the new commit.
    # Recall pin: tests/test_llm_ops.py (refreshed >= stale + margin on
    # a fixture where appends double the corpus with unseen clusters).
    # The refresh is sized off the PERSISTED build-time n_entries, not
    # len(entries): graph_entry_medoids dedupes coinciding medoids, so
    # a refresh sized off the previous refresh's (possibly shrunken)
    # list would ratchet the entry set down across compactions.
    n_entries = int(_meta_field(meta, "n_entries", len(entries)))
    if n_entries <= 1:
        entries = [int(corpus.agg(F.min("vec_id")).first()[0])]
    else:
        entries = sorted(
            int(r.node)
            for r in graph_entry_medoids(corpus, n_entries).collect()
        )
    edges = e0
    for lvl in range(1, layers):
        edges = edges.unionByName(
            _upper_layer_edges(corpus, entries, lvl, layers, layer_mult, knn)
        )
    bucket = F.pmod(F.hash("node"), F.lit(n_buckets)).cast("int")
    (
        edges.withColumn("bucket", bucket)
        .withColumn("commit", F.lit(nxt).cast("long"))
        .repartition("bucket")
        .write.partitionBy("commit", "bucket")
        .mode("append")
        .parquet(f"{path}/edges")
    )
    (
        nodes.withColumn("bucket", bucket)
        .withColumn("commit", F.lit(nxt).cast("long"))
        .repartition("bucket")
        .write.partitionBy("commit", "bucket")
        .mode("append")
        .parquet(f"{path}/nodes")
    )
    # the upper-layer rebuild above is the long half of this fold:
    # refresh the claim's lease before the meta/manifest endgame (see
    # compact_index's per-subdir renew; same best-effort contract)
    _renew_claim(spark, path, nxt)
    # refreshed entries + the exact recomputed degree bound land in
    # VERSIONED meta (meta/commit=nxt) before the manifest commit;
    # readers resolve meta via the manifest (see _read_graph_meta), so
    # a crash here leaves the old commits serving with the OLD meta —
    # entries and graph always flip together, which also closes the
    # layered-index caveat (a refreshed entry need not be an upper-
    # layer member of the OLD graph; pre-round-11 it was served
    # against it). The bound recompute reads only the commit dir this
    # compact just wrote — the one writer that can afford an exact
    # value, resetting the appends' accumulated over-estimates.
    if versioned:
        _write_graph_meta(
            spark, path, nxt, entries, n_buckets, knn, layers, layer_mult,
            n_entries=n_entries,
            max_deg=_commit_edge_degree_bound(spark, path, nxt),
        )
    else:
        # legacy flat-meta index: keep the pre-round-11 in-place
        # rewrite (mixing commit= dirs into a flat meta dir would
        # break partition discovery). No max_deg is persisted — later
        # legacy appends wouldn't maintain it, and a stale bound would
        # silently under-budget the walk guard; the handle measures
        # instead.
        spark.createDataFrame(
            [(
                entries[0], entries, int(n_buckets), int(knn), int(layers),
                int(layer_mult), int(n_entries), None,
            )],
            _GRAPH_META_SCHEMA,
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/meta")
    applied = _max_applied_batch(rows)
    try:
        _verify_claim_held(spark, path, nxt)  # lease loss is loud
        _write_index_manifest(
            spark, path, [nxt],
            {nxt: applied} if applied is not None else None,
            expected_version=ver if ver is not None else 0,
            applied=applied_map or None,
        )
    except ManifestConflictError:
        _release_claim(spark, path, nxt)
        raise
    _release_claim(spark, path, nxt)
    return nxt


class GraphIndexHandle:
    """An OPENED stored graph index: meta, committed-commit list, and
    the edge/node scan DataFrames (whose file indexes Spark builds
    once) resolved at open time. A serving system opens the index once
    and probes many times — the per-probe cost drops to the walk's
    actions alone, no repeated meta/manifest reads. The handle pins
    the manifest SNAPSHOT read at open time (concurrent appends are
    not served until reopen — the same read-your-snapshot contract
    every reader of the commit-partition idiom gets). `as_of` pins an
    older snapshot: versioned meta resolves against the SAME pinned
    commit list, so the walk's entries/degree bound describe exactly
    the historical graph being served."""

    def __init__(self, spark, path: str, as_of: int | None = None):
        self.path = path
        self.commits = _snapshot_commits(spark, path, as_of)
        # meta resolves against the SAME manifest snapshot as the data
        # scans below: versioned meta (round 11) is per writer commit,
        # so entries/bounds always describe the graph this handle
        # serves, even mid-compaction or after a crashed one
        self.meta = _read_graph_meta(spark, path, self.commits)
        self.n_buckets = int(self.meta.n_buckets)
        self.knn = int(self.meta.knn)
        self.layers = int(_meta_field(self.meta, "layers", 1))
        self.entries = (
            [int(e) for e in self.meta.entries]
            if _meta_field(self.meta, "entries")
            else [int(self.meta.entry)]
        )
        self.edges = (
            spark.read.parquet(f"{path}/edges")
            .where(F.col("commit").isin(self.commits))
            .drop("commit")
        )
        self.tombstones = _tombstones(spark, path, self.commits)
        # upsert support (round 12): an upserted id has >1 committed
        # node row; the scoped tombstone hides the superseded ones so
        # the walk scores the id once, at its newest vector. Global
        # deletes stay IN the node scan (route-through) and are
        # excluded at rank time.
        self.nodes = _hide_superseded(
            spark.read.parquet(f"{path}/nodes")
            .where(F.col("commit").isin(self.commits)),
            self.tombstones,
        ).drop("commit")
        md = _meta_field(self.meta, "max_deg")
        self._max_deg: int | None = int(md) if md is not None else None

    def _measured_max_out_degree(self) -> int:
        """LEGACY fallback: measure the max per-(node, layer)
        out-degree over the committed edge set — only for pre-round-11
        indexes whose meta carries no persisted bound. One aggregation
        over the edge (node, layer) columns (column-pruned scan,
        map-side partial counts), cached on the handle. Per-LAYER
        grouping (tightened in round 11): the walk expands one layer
        at a time, so summing a node's out-edges across all HNSW
        layers — what the round-10 measurement did — over-budgeted the
        guard and shrank walk shards below need."""
        keys = (
            ["node", "layer"] if "layer" in self.edges.columns else ["node"]
        )
        row = (
            self.edges.groupBy(
                *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in keys]
            )
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d"))
            .first()
        )
        return int(row[0]) if row[0] is not None else 1

    @property
    def max_out_degree(self) -> int:
        """The walk state-guard's per-layer max out-degree bound.
        Round 10 measured it at first probe with a committed-edge-wide
        aggregation — correct, but a serving-open cost that grew with
        corpus size (tens of billions of edge rows at 100x), paid per
        call by path-passing probers, and over-stated for HNSW indexes
        (it summed a node's out-edges across all layers). Round 11
        PERSISTS the bound in versioned meta, maintained by each
        writer where the edges are already in hand (build = knn;
        append = incremental batch-local delta; compact = exact
        recompute) — opening a current-format index costs one one-row
        meta read, nothing edge-sized. The measured scan survives only
        as the legacy-index fallback (_measured_max_out_degree)."""
        if self._max_deg is None:
            self._max_deg = self._measured_max_out_degree()
        return self._max_deg


def open_graph_index(
    spark, path: str, as_of: int | None = None
) -> GraphIndexHandle:
    """Open a stored graph index for repeated probing (see
    GraphIndexHandle). `as_of=N` opens the commit-N snapshot."""
    return GraphIndexHandle(spark, path, as_of=as_of)


def _layer0(edges: DataFrame) -> DataFrame:
    """Base-layer edge filter shared by every stored-graph consumer.
    NULL-safe on `layer`: an index built before the HNSW column
    existed has edge files without it, so after a post-upgrade append
    Spark's unified schema reads the legacy rows as NULL — treating
    NULL as anything but layer 0 would silently drop the entire
    legacy base graph from probes. coalesce(layer, 0) keeps them."""
    if "layer" in edges.columns:
        return edges.where(
            F.coalesce(F.col("layer"), F.lit(0)) == 0
        ).drop("layer")
    return edges


def pagerank_stored(
    spark, index, damping: float = 0.85, iters: int = 3
) -> DataFrame:
    """PageRank served from a STORED graph index: the same fixed-
    iteration recurrence as pagerank(), but the edge list is the
    index's persisted layer-0 kNN graph instead of a per-call
    knn_graph build — the analytics analogue of the stored-probe
    serving split (build once, rank many). On a freshly built index
    the stored base layer IS knn_graph's output, so results (and the
    SQL oracle) are identical to pagerank(knn_graph(corpus)); on an
    appended index the ranks also see the append commits' NSW links —
    exactly the graph probes walk. Tombstoned nodes (delete_from_index)
    stay in the ranking until a compaction physically drops them —
    centrality is a property of the COMMITTED graph structure the
    walks actually traverse (which includes routable tombstoned
    nodes), not of the serving allow-list. Scale: the power loop's per-
    iteration shuffle is over the stored n*knn edge table only; the
    corpus vectors are never read."""
    h = (
        index
        if isinstance(index, GraphIndexHandle)
        else GraphIndexHandle(spark, index)
    )
    return pagerank(
        _layer0(h.edges).select(
            F.col("node").alias("src"), F.col("dst").alias("dst")
        ),
        damping=damping,
        iters=iters,
    )


def graph_ann_stored(
    spark,
    index,
    queries: DataFrame,
    k: int = 10,
    beam: int = 8,
    hops: int = 3,
    hops_upper: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Beam search served from a stored graph index: identical walk —
    and therefore identical results — to graph_ann() built from the
    same corpus (test-pinned), but every hop's edge/vector lookups
    join on (bucket, node) against the bucket-partitioned store, so
    the scans touch only the frontier's buckets instead of the whole
    graph. Only manifest-committed `commit=` partitions are served.

    `index` is a path or an open GraphIndexHandle (serving callers
    open once, probe many). The walk (_graph_walk) prefetches up to
    three hops per action: ~ceil(hops/3) actions instead of 1+hops,
    identical results. An index built with layers > 1 adds the HNSW
    descent: `hops_upper` beam=1 rounds per upper layer, then the
    layer-0 beam search seeded with the descent's best nodes.

    `allowed` (optional) makes this a FILTERED vector search on the
    graph family (round 10; the IVF/PQ twins got it in round 9): a
    one-column (vec_id) allow-set restricts what is RETURNED, never
    where the walk may GO — the beam walks the full graph for
    navigability (restricting the walk itself would strand the beam
    inside allowed islands: a beam that can only stand on allowed
    nodes cannot cross a disallowed region to reach an allowed
    cluster behind it), then the final top-k ranks ONLY the allowed
    nodes among EVERYTHING the walk scored. Because the walk visits
    ~hops*beam*degree nodes per query (not just the k winners), this
    built-in over-retrieval dominates post-hoc filtering of an
    unfiltered top-k — test-pinned. Post-filter semantics as in the
    IVF twin: fewer than k rows when the walk's neighborhood holds
    fewer than k allowed nodes (raise beam/hops to buy coverage).
    Scale: the walk is unchanged (bucket-pruned scans, bounded
    broadcasts); the allow-set — possibly corpus-sized, with its own
    predicate pushdown — is scanned ONCE, streamed against the
    broadcast of the walk's bounded result; nothing corpus-sized
    shuffles. Deterministic -> the full walk oracle plus one IN
    restriction before the final rank."""
    h = index if isinstance(index, GraphIndexHandle) else GraphIndexHandle(
        spark, index
    )
    layer_edges = [_layer0(h.edges)] + [  # NULL-safe: legacy rows are layer 0
        h.edges.where(F.col("layer") == lv).drop("layer")
        for lv in range(1, h.layers)
    ]
    # state-guard degree bound: the PERSISTED per-layer max out-degree
    # from the index meta (round 11 — maintained at write/append/
    # compact time, so opening costs no edge-wide aggregation; legacy
    # indexes fall back to measuring once per handle). The old 2*knn
    # heuristic under-counted reverse-edge hubs, whose in-degree is
    # unbounded under appends, so the _BEAM_MAX_STATE promise could be
    # silently exceeded on adversarial appended indexes.
    return _graph_probe(
        spark, h.nodes, layer_edges, h.entries, queries, k, beam, hops,
        hops_upper, h.max_out_degree, allowed=allowed,
        tombstones=h.tombstones, n_buckets=h.n_buckets,
    )


def random_projection(emb: DataFrame, k: int = 16, dim: int = 64) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce dim -> k with
    the deterministic md5-derived dense planes (same family as the
    LSH hyperplanes, different seed), reduced[j] = dot(emb, plane_j)
    / sqrt(k). Distance distortion is O(sqrt(log n / k)) w.h.p. — the
    cheap pre-step before clustering/ANN when the raw dimension is
    wasteful. Pure per-row arithmetic (JVM fold over the array), no
    shuffle; planes are literals in the plan, so the SQL oracle
    restates them verbatim."""
    import math as _math

    planes = hyperplanes(dim, k, seed="jl")
    scale = 1.0 / _math.sqrt(k)
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(v) for v in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale),
            6,
        )
        for plane in planes
    ]
    return emb.select(
        "vec_id", F.array(*comps).alias("reduced")
    ).orderBy("vec_id")


def knn_classify(emb: DataFrame, k: int = 5) -> DataFrame:
    """kNN label prediction over the ANN graph: each vector's label is
    predicted as the majority label of its k approximate nearest
    neighbors (ties -> smallest label id), reported against the true
    label — the standard embedding-quality probe (kNN accuracy) run
    entirely inside the engine. Reuses the IVF kNN graph (bounded
    candidate generation); the vote is one count + one rank window
    over k*n rows."""
    g = knn_graph(emb, k=k)
    votes = (
        g.join(
            F.broadcast(
                emb.select(
                    F.col("vec_id"), F.col("label").alias("nb_label")
                )
            ),
            "vec_id",
        )
        .groupBy(F.col("query_id").alias("vec_id"), "nb_label")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("nv").desc(), F.col("nb_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("nb_label").alias("pred_label"))
    )
    return (
        pred.join(
            F.broadcast(emb.select("vec_id", "label")), "vec_id"
        )
        .select(
            "vec_id",
            "label",
            "pred_label",
            (F.col("label") == F.col("pred_label"))
            .cast("int")
            .alias("correct"),
        )
        .orderBy("vec_id")
    )


def reduced_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    rk: int = 16,
) -> DataFrame:
    """Two-stage retrieval: shortlist by cosine in the JL-REDUCED space
    (rk dims instead of D), exact rerank of the shortlist on the full
    vectors — the dimension-reduced prefilter every large retrieval
    stack runs before its expensive scorer. Deterministic end-to-end
    (md5 planes, 6dp-rounded stage-1 scores, id tie-breaks), so the
    SQL twin is a FULL oracle. At 100 TB stage 1 reads rk/D of the
    vector bytes; stage 2 touches only shortlist*|queries| full rows."""
    red_c = random_projection(emb, k=rk).withColumnRenamed("reduced", "rc")
    red_q = F.broadcast(
        random_projection(
            queries.select(
                F.col("query_id").alias("vec_id"), "embedding"
            ),
            k=rk,
        ).select(F.col("vec_id").alias("query_id"), F.col("reduced").alias("rq"))
    )
    s1 = (
        red_c.crossJoin(red_q)
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rcos", F.round(cosine(F.col("rq"), F.col("rc")), 6))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("rcos").desc(), F.col("vec_id").asc()
    )
    short = (
        s1.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= shortlist)
        .select("query_id", "vec_id")
    )
    full_q = F.broadcast(
        queries.select("query_id", F.col("embedding").alias("qe"))
    )
    s2 = (
        short.join(
            emb.select("vec_id", F.col("embedding").alias("ce")), "vec_id"
        )
        .join(full_q, "query_id")
        .withColumn("cos", F.round(cosine(F.col("qe"), F.col("ce")), 6))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        s2.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", "cos", F.col("rk").cast("int").alias("rk")
        )
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the third point on the compression
# spectrum this module serves (flat fp32 -> SQ8 int8 -> PQ codes),
# FAISS's IndexIVFScalarQuantizer lane re-expressed on the shared
# commit-partition layout. Each dimension is quantized independently
# to 8 bits against per-dimension [lo, hi] bounds trained at build
# time (the frozen model, like the IVF centroids and PQ codebooks);
# serving reads int codes only — 4x smaller than fp32 — and scores
# queries asymmetrically (full-precision query vs dequantized
# candidate), the standard SQ-ADC trade: far better recall than PQ at
# 4x (not 16x+) compression.
# ---------------------------------------------------------------------------
def sq8_bounds(
    corpus: DataFrame, trim: float = 0.001
) -> tuple[list[float], list[float]]:
    """Train per-dimension [lo, hi] quantization bounds,
    QUANTILE-TRIMMED at [trim, 1-trim] (FAISS ScalarQuantizer
    QT_8bit's rangestat=quantile idiom): raw min/max bounds let a
    single outlier vector stretch one dimension's range and collapse
    its 255-step resolution for the entire corpus; trimmed bounds
    ignore the tail and the encoder clamps outliers to the range
    edge (_sq8_codes already clamps t to [0, 1]). trim=0 reproduces
    exact min/max.

    F.percentile (EXACT, sort-based) rather than percentile_approx:
    the approx sketch's merge is partition-order sensitive, and the
    reindex pins require retraining on the same rows to be
    bit-identical regardless of partitioning. Bounds are rounded to
    6dp so the DuckDB oracle's quantile_cont (same p*(n-1) linear
    interpolation) lands on identical doubles.

    One posexplode + one (pos)-keyed aggregation — a single
    map-side-combined shuffle of dim-sized partials, nothing
    corpus-sized reaches the driver (dim rows do)."""
    val = F.col("val").cast("double")
    rows = (
        corpus.select(F.posexplode(F.col("embedding")).alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.round(F.percentile(val, F.lit(float(trim))), 6).alias("lo"),
            F.round(F.percentile(val, F.lit(float(1.0 - trim))), 6).alias(
                "hi"
            ),
        )
        .orderBy("pos")
        .collect()
    )
    return [float(r.lo) for r in rows], [float(r.hi) for r in rows]


def _sq8_codes(vec_col, lo: list[float], hi: list[float]):
    """codes[i] = floor(clamp((x_i - lo_i)/(hi_i - lo_i), 0, 1)*255
    + 0.5) — the floor(t + 0.5) discretization both engines share
    (never round(): cross-engine tie semantics differ). A degenerate
    dimension (hi == lo) codes to 0 and dequantizes to lo exactly."""
    lo_a = F.array(*[F.lit(float(v)) for v in lo])
    hi_a = F.array(*[F.lit(float(v)) for v in hi])

    def enc(x, i):
        l_ = F.element_at(lo_a, i + 1)
        h_ = F.element_at(hi_a, i + 1)
        t = (x.cast("double") - l_) / (h_ - l_)
        t = F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0))
        return (
            F.when(h_ == l_, F.lit(0.0)).otherwise(F.floor(t * 255.0 + 0.5))
        ).cast("int")

    return F.transform(vec_col, enc)


def _sq8_dequant(codes_col, lo: list[float], hi: list[float]):
    """xhat_i = lo_i + codes_i/255 * (hi_i - lo_i), double arithmetic
    in the same operation order as the oracle SQL."""
    lo_a = F.array(*[F.lit(float(v)) for v in lo])
    hi_a = F.array(*[F.lit(float(v)) for v in hi])

    def dec(c, i):
        l_ = F.element_at(lo_a, i + 1)
        h_ = F.element_at(hi_a, i + 1)
        return l_ + c.cast("double") / F.lit(255.0) * (h_ - l_)

    return F.transform(codes_col, dec)


def _sq8_score(qe_col, codes_col, meta):
    """Asymmetric SQ8 score: exact cosine of the full-precision query
    against the dequantized candidate, 6dp. Zero-norm guard: a
    candidate whose every dimension clamps at the trained lo can
    dequantize to the all-zero vector (e.g. an upsert far outside the
    frozen bounds); a zero vector has no direction, so it scores 0
    instead of dividing by zero — the oracle carries the same CASE
    (see _sql_simsearch_sq8)."""
    xhat = _sq8_dequant(codes_col, meta.lo, meta.hi)
    nx = F.aggregate(xhat, F.lit(0.0), lambda acc, v: acc + v * v)
    return F.when(nx == 0, F.lit(0.0)).otherwise(
        F.round(cosine(qe_col, xhat), 6)
    )


def write_sq_index(
    corpus: DataFrame, path: str, n_centroids: int = 8, iters: int = 1,
    centroids: DataFrame | None = None,
    bounds: tuple[list[float], list[float]] | None = None,
) -> None:
    """Build + persist an IVF-SQ8 index: `codes/` parquet partitioned
    by (commit, centroid_id) holding int8-range code arrays instead of
    raw vectors, `centroids/` (the coarse quantizer), `meta/` (the
    per-dimension lo/hi bounds — the frozen scalar quantizer), and
    `manifest/` written LAST (the commit idiom every stored index here
    shares, so append/upsert/delete/compact/vacuum/stats/as_of all
    work through the generic machinery). Routing uses the RAW vector
    against the coarse quantizer; only the stored payload is
    quantized — a probe's scan reads nprobe partition dirs of int
    codes and never touches an fp32 embedding.

    `centroids`/`bounds` pin a precomputed model instead of training
    from this corpus (tests rebuild an index equivalent to
    build+append with them, mirroring write_ivf_index)."""
    lo, hi = bounds if bounds is not None else sq8_bounds(corpus)
    _write_coarse_index(
        ANN_FAMILIES["sq"], corpus, path, n_centroids, iters, centroids,
        Row(lo=lo, hi=hi, dim=len(lo)),
    )


def append_sq_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """Incremental IVF-SQ8 maintenance: frozen quantizer + frozen
    bounds, new commit partition, manifest last — O(new rows), same
    replay contract as every append here (see _commit)."""
    return _coarse_commit(
        ANN_FAMILIES["sq"], spark, path, new_vectors, batch_id, app_id
    )


def upsert_sq_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """UPSERT into a stored IVF-SQ8 index: one atomic commit carrying
    a horizon-scoped tombstone for the upserted vec_ids plus their
    re-encoded replacement codes — the semantics of upsert_ivf_index,
    the crash and replay contract of _commit."""
    return _coarse_commit(
        ANN_FAMILIES["sq"], spark, path, new_vectors, batch_id, app_id,
        upsert=True,
    )


class SqIndexHandle(IvfIndexHandle):
    """An OPENED stored IVF-SQ8 index (the shared coarse-routed handle,
    see IvfIndexHandle): `meta` holds the frozen per-dim bounds
    (lo, hi, dim), `scan` the committed codes."""

    kind = "sq"


def open_sq_index(
    spark, path: str, as_of: int | None = None
) -> SqIndexHandle:
    """Open a stored IVF-SQ8 index for repeated probing (see
    SqIndexHandle). `as_of=N` opens the commit-N snapshot."""
    return SqIndexHandle(spark, path, as_of=as_of)


def sq_ann_stored(
    spark, index, queries: DataFrame, k: int = 10, nprobe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probe a stored IVF-SQ8 index: route each query to its nprobe
    nearest coarse centroids (broadcast centroid table — dynamic
    partition pruning on the codes scan, same plan shape as
    ivf_ann_stored), dequantize ONLY the candidate codes with the
    handle's bounds, and rank by exact cosine against the
    full-precision query (asymmetric SQ distance). The corpus-sized
    table in flight is the pruned int-codes scan; fp32 embeddings are
    never read. `allowed`/tombstones behave exactly as on the IVF
    probe (filter before the rank; horizon-scoped exclusions)."""
    h = index if isinstance(index, SqIndexHandle) else SqIndexHandle(
        spark, index
    )
    return _coarse_probe(h, queries, k, nprobe, allowed)


def index_txns(spark, path: str) -> DataFrame:
    """The stored index's PER-APPLICATION replay watermarks as a
    DataFrame — (app_id, last_batch_id) straight from the manifest's
    `applied` map (the Delta `txn` introspection surface; the default
    no-app writer reads as app_id ''). The companion to index_history
    for multi-stream operations: before (re)starting a stream against
    an index, read this to see which application ids exist and where
    each one's exactly-once watermark stands. O(#apps) rows from one
    small manifest read; empty for an index no streaming writer has
    touched."""
    _, _, applied = _manifest_snapshot(spark, path)
    return spark.createDataFrame(
        sorted((str(k), int(v)) for k, v in applied.items()),
        "app_id string, last_batch_id long",
    ).orderBy("app_id")


def index_history(spark, path: str) -> DataFrame:
    """The stored index's COMMIT HISTORY as a DataFrame — (commit,
    batch_id) straight from the manifest, the companion introspection
    to index_stats and the discovery surface for as_of time travel
    (you pick a snapshot FROM this listing). batch_id carries the
    streaming micro-batch provenance recorded atomically with each
    commit (NULL for batch-API writes). O(#commits) rows; the manifest
    is a single tiny parquet."""
    rows = _manifest_rows(spark, path)
    return spark.createDataFrame(
        [(int(c), b) for c, b in rows], "commit long, batch_id long"
    ).orderBy("commit")


def index_commit_stats(spark, path: str, subdirs: list) -> DataFrame:
    """Per-commit observability for the maintenance loop — (commit,
    n_rows, n_live) over the PRIMARY data subdir: n_rows = rows the
    commit contributed, n_live = rows still visible after tombstone /
    upsert-horizon resolution (exactly the probe's view, via the same
    _anti_tombstones). The pair is what an operator reads before
    choosing a fold: many commits with tiny n_rows → minor compact
    (maintain_index automates that); n_live far below n_rows → a full
    compact reclaims tombstoned space. Complements index_history
    (manifest provenance) and index_stats (per-subdir totals).

    Scale: one column-pruned count aggregation over the primary
    subdir, statically pruned to the committed commit dirs; only
    #commits scalar rows reach the driver."""
    commits = _committed(spark, path)
    primary = subdirs[0][0]
    df = spark.read.parquet(f"{path}/{primary}").where(
        F.col("commit").isin(commits)
    )
    tombs = _tombstones(spark, path, commits)
    total = df.groupBy("commit").agg(F.count(F.lit(1)).alias("n_rows"))
    live = (
        _anti_tombstones(df, tombs)
        .groupBy("commit")
        .agg(F.count(F.lit(1)).alias("n_live"))
    )
    return (
        total.join(live, "commit", "left")
        .select(
            F.col("commit").cast("long").alias("commit"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.coalesce(F.col("n_live"), F.lit(0))
            .cast("long")
            .alias("n_live"),
        )
        .orderBy("commit")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """ANN EVALUATION: per-query recall@k of an approximate result
    against the exact ground truth — the tuning loop every index
    deployment runs (sweep nprobe/beam, read this, pick the knee).
    Both inputs are (query_id, vec_id, ..., rk) frames as every probe
    here returns. Returns (query_id, n_hit, n_true, recall) with
    recall 6dp-floored for cross-engine hashing.

    Scale: both sides are already top-k bounded (queries x k rows) —
    the join and aggregations are trivially small no matter the corpus
    behind them; the expensive parts (the probes) stay in their own
    pruned plans."""
    a = approx.where(F.col("rk") <= k).select("query_id", "vec_id")
    t = exact.where(F.col("rk") <= k).select("query_id", "vec_id")
    hit = a.join(t, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    tot = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        tot.join(hit, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.col("n_true").cast("long").alias("n_true"),
            (
                F.floor(
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("n_true") * 1e6 + 0.5
                ) / 1e6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def reindex_ivf(
    spark, src_path: str, dst_path: str, n_centroids: int = 8,
    iters: int = 1,
) -> None:
    """OFFLINE REINDEX: read the LIVE vectors of a stored IVF index
    (committed cells minus tombstoned/superseded rows — deletes and
    upserts resolve exactly as probes resolve them), RETRAIN the
    coarse quantizer on them, and write a fresh index at `dst_path`.
    This is the ops answer to quantizer drift: appends assign to
    frozen centroids, so after the corpus doubles the cells skew and
    probes lose recall; a reindex restores the canonical
    trained-on-everything build (pinned: reindexing a build+append
    index equals write_ivf_index over the full corpus — same seeded
    kmeans, so the result is bit-identical, not merely similar).

    Scale: one pass over the committed cells (column-pruned to
    vec_id/ce/commit) + the standard build; src stays live and
    unmodified throughout — cutover is the caller swapping paths, and
    the old index remains probeable until then."""
    h = IvfIndexHandle(spark, src_path)
    live = _anti_tombstones(h.scan, h.tombstones)
    write_ivf_index(
        live.select("vec_id", F.col("ce").alias("embedding")),
        dst_path, n_centroids=n_centroids, iters=iters,
    )


def reindex_pq(
    spark, src_path: str, dst_path: str, n_centroids: int = 8,
    m: int = 16, ksub: int = 16, lloyd_rounds: int = 2,
    store_vectors: bool = True,
) -> None:
    """OFFLINE REINDEX for the IVF-PQ family — the ops answer to
    CODEBOOK drift: appends encode against the frozen coarse quantizer
    AND frozen residual codebooks, so after the corpus distribution
    shifts the codewords stop covering it and recall@k decays
    (measure with recall_at_k, reindex at the knee — the same
    measure->reindex loop reindex_ivf closes for the flat family).

    Retraining residual codebooks needs the RAW vectors; PQ codes are
    lossy many-to-one, so there is nothing faithful to retrain on
    without the `vectors/` sidecar (write_pq_index(store_vectors=True)
    — the DiskANN store-full-precision-alongside deployment). Without
    the sidecar this raises rather than silently retraining on
    reconstructions: pass the source corpus through write_pq_index
    yourself if you have it.

    Live-row resolution matches the probe exactly: committed vectors
    minus tombstoned/superseded rows (deletes and upserts fold in).
    Pinned bit-identical to write_pq_index over the surviving corpus —
    same seeded training path. src stays live and unmodified
    throughout; cutover is the caller swapping paths."""
    from agni_spark.sources.layout import _hfs

    fs, P = _hfs(spark, f"{src_path}/vectors")
    if not fs.exists(P(f"{src_path}/vectors")):
        raise ValueError(
            f"reindex_pq: {src_path} has no vectors/ sidecar — PQ codes "
            "are lossy, so codebooks can only retrain on raw vectors; "
            "rebuild with write_pq_index(store_vectors=True) or run "
            "write_pq_index over the source corpus directly"
        )
    commits = _committed(spark, src_path)
    live = _anti_tombstones(
        spark.read.parquet(f"{src_path}/vectors")
        .where(F.col("commit").isin(commits))
        .select("vec_id", "embedding", "commit"),
        _tombstones(spark, src_path, commits),
    )
    write_pq_index(
        live.select("vec_id", "embedding"), dst_path,
        n_centroids=n_centroids, m=m, ksub=ksub,
        lloyd_rounds=lloyd_rounds, store_vectors=store_vectors,
    )


def reindex_sq8(
    spark, src_path: str, dst_path: str, n_centroids: int = 8,
    iters: int = 1, trim: float = 0.001,
) -> None:
    """OFFLINE REINDEX for the IVF-SQ8 family — retrain the per-dim
    scalar BOUNDS and the coarse quantizer. Appends/upserts encode
    against the bounds trained at build time; once the live value
    range drifts past them every new vector clamps at the edges and
    the quantization error grows one-sided — recall_at_k shows the
    decay, this restores the trained-on-everything state.

    SQ8 stores no raw vectors (the 4x compression IS the point), so
    the reindex retrains on the DEQUANTIZED live rows — the index's
    exact knowledge of its corpus (reconstruction error <= half a
    quantization step per dimension; FAISS's reconstruct-and-retrain
    idiom). Pinned: reindex over a pure build equals
    write_sq_index(dequantized corpus) bit for bit — same rows, same
    seeded kmeans, same quantile-trimmed bounds path.

    Live-row resolution matches the probe exactly (committed codes
    minus tombstoned/superseded). One distributed pass: the dequant is
    a transform() over the pruned int-codes scan, nothing corpus-sized
    reaches the driver; src stays live throughout."""
    h = SqIndexHandle(spark, src_path)
    live = _anti_tombstones(h.scan, h.tombstones)
    # keep the dequantized values as DOUBLES: _sq8_dequant's exact
    # arithmetic is what the oracle mirrors — a float round-trip here
    # would retrain on different numbers than the SQL chain
    recon = live.select(
        "vec_id",
        _sq8_dequant(F.col("codes"), h.meta.lo, h.meta.hi).alias("embedding"),
    )
    write_sq_index(
        recon, dst_path, n_centroids=n_centroids, iters=iters,
        bounds=sq8_bounds(recon, trim=trim),
    )


def reindex_graph(
    spark, src_path: str, dst_path: str, knn: int | None = None,
    n_buckets: int | None = None, n_entries: int | None = None,
    layers: int | None = None, layer_mult: int | None = None,
) -> None:
    """OFFLINE REINDEX for the graph family — the clean REBUILD, as
    distinct from compact_graph_index: compaction deliberately CARRIES
    layer 0 (the NSW insertion history, whose reverse links keep
    appended nodes reachable) and only re-knits the upper layers; after
    heavy upsert/delete churn that history accumulates stale-position
    edges, and the recall story degrades in a way no compaction can
    undo. reindex_graph reads the LIVE nodes (committed, superseded
    upsert rows hidden, global deletes excluded — exactly the rows
    probes may return) and runs the full builder at `dst_path`: fresh
    bucketed kNN layer 0, fresh upper layers, fresh entry medoids.
    Completes the measure->reindex ops loop for all four families
    (reindex_ivf / reindex_pq / reindex_sq8 / reindex_graph).

    Params default to the source index's meta (same knn/buckets/
    layers); override to re-shape the graph during the rebuild.
    Pinned bit-identical to write_graph_index over the surviving
    corpus — same deterministic builder. src stays live and probeable
    throughout; cutover is the caller swapping paths."""
    h = GraphIndexHandle(spark, src_path)
    live = h.nodes
    if h.tombstones is not None:
        gl = h.tombstones.where(F.col("horizon") >= _TOMB_INF)
        live = live.join(
            gl.select(F.col("vec_id").alias("node")), "node", "left_anti"
        )
    write_graph_index(
        live.select(
            F.col("node").alias("vec_id"), F.col("ce").alias("embedding")
        ),
        dst_path,
        knn=knn if knn is not None else h.knn,
        n_buckets=n_buckets if n_buckets is not None else h.n_buckets,
        n_entries=(
            n_entries if n_entries is not None
            else int(_meta_field(h.meta, "n_entries", 1))
        ),
        layers=layers if layers is not None else h.layers,
        layer_mult=(
            layer_mult if layer_mult is not None
            else int(_meta_field(h.meta, "layer_mult", 8))
        ),
    )


def sq8_quantization_error(spark, path: str, corpus: DataFrame) -> DataFrame:
    """QUANTIZER-DRIFT METRIC for the IVF-SQ8 family — the measure
    half of the measure->reindex ops loop (recall_at_k measures the
    end-to-end effect; this isolates the quantizer's contribution):
    per-corpus reconstruction error of the stored codes against the
    CURRENT true vectors, err = 1 - cos(x, dequant(codes(x))). Freshly
    trained bounds put the mean within the half-step noise floor;
    as appends/upserts drift the live value range past the frozen
    bounds, new vectors clamp at the edges and the mean/max climb —
    reindex_sq8 at the knee. `corpus` is the source of truth
    (vec_id, embedding); only ids present in both sides count (the
    join is the live-codes scan against the corpus).

    Returns ONE row (n, mean_err, max_err), 6dp-floored for
    cross-engine hashing.

    Scale: one join of the committed int-codes scan against the
    corpus + a scalar aggregation — map-side combined, nothing
    corpus-sized reaches the driver."""
    h = SqIndexHandle(spark, path)
    live = _anti_tombstones(h.scan, h.tombstones)
    xhat = _sq8_dequant(F.col("codes"), h.meta.lo, h.meta.hi)
    # per-row 6dp discretization BEFORE the aggregates: the mean then
    # sums identical doubles on both engines and the max is exact
    err = F.floor(
        (F.lit(1.0) - cosine(F.col("embedding"), xhat)) * 1e6 + 0.5
    ) / 1e6
    scored = live.select("vec_id", "codes").join(
        corpus.select("vec_id", "embedding"), "vec_id"
    ).select(err.alias("err"))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.floor(F.avg("err") * 1e6 + 0.5) / 1e6).alias("mean_err"),
        F.max("err").alias("max_err"),
    )


def pq_reconstruction_error(spark, path: str, corpus: DataFrame) -> DataFrame:
    """QUANTIZER-DRIFT METRIC for the IVF-PQ family — the PQ twin of
    sq8_quantization_error: per-corpus reconstruction error of the
    stored codes against the current true vectors, where the
    reconstruction is the ADC decomposition's own estimate
    xhat = c(cell) + concat_sub(codebook[sub][code[sub]]) and
    err = 1 - cos(x, xhat), 6dp-discretized per row before the
    aggregates. A fresh build reads the PQ noise floor (well above
    SQ8's — m*log2(ksub) bits/vector vs 8 bits/dim); frozen-model
    appends on a shifted distribution push the mean up — reindex_pq
    at the knee. Returns ONE row (n, mean_err, max_err).

    Scale: the int-codes scan explodes to m rows/vector, joins the
    broadcast codebook (m*ksub rows), folds back per vector, then one
    join against the corpus + a scalar aggregation — map-side
    combined, nothing corpus-sized on the driver."""
    h = PQIndexHandle(spark, path)
    live = _anti_tombstones(h.scan, h.tombstones)
    ex = live.select(
        "vec_id", "centroid_id", F.posexplode("code").alias("sub", "cid")
    )
    rhat = (
        ex.join(F.broadcast(h.cb), ["sub", "cid"])
        .groupBy("vec_id", "centroid_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "cvec"))),
                    lambda s: s.getField("cvec"),
                )
            ).alias("rhat")
        )
    )
    xhat = rhat.join(F.broadcast(h.cents), "centroid_id").select(
        "vec_id",
        F.zip_with(
            F.col("cvec"), F.col("rhat"), lambda c, r: c + r
        ).alias("xhat"),
    )
    err = F.floor(
        (F.lit(1.0) - cosine(F.col("embedding"), F.col("xhat"))) * 1e6 + 0.5
    ) / 1e6
    scored = xhat.join(corpus.select("vec_id", "embedding"), "vec_id").select(
        err.alias("err")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.floor(F.avg("err") * 1e6 + 0.5) / 1e6).alias("mean_err"),
        F.max("err").alias("max_err"),
    )


# ---------------------------------------------------------------------------
# IVF-BQ (1-bit binary quantization) family — round 12. Completes the
# compression spectrum flat fp32 -> SQ8 int8 (4x) -> PQ (16x+) -> BQ
# (32x): one SIGN BIT per dimension against a per-dim trained MEAN
# threshold (mean-centered binarization — the rotation-free baseline
# of binary embedding quantization), packed 32 dims per (long) word.
# Probes score ASYMMETRICALLY: the full-precision query against the
# candidate's +-1 pattern, s = sum_i q_i * (2*b_i - 1) — the standard
# asymmetric-Hamming proxy (exact Hamming ranking needs only the
# bits; keeping the query full-precision buys recall for free). The
# layout is the shared commit-partition idiom, so the whole lifecycle
# (append/upsert/delete/compact/vacuum/stats/as_of/clone/streaming)
# rides the generic machinery.
# ---------------------------------------------------------------------------
_BQ_WORD_BITS = 32


def bq_thresholds(corpus: DataFrame) -> list[float]:
    """Train the per-dimension binarization thresholds: the dimension
    MEAN (6dp-rounded so the DuckDB oracle's avg lands on identical
    doubles) — bit_i = x_i > mean_i. One posexplode + one (pos)-keyed
    avg: map-side-combined, dim rows to the driver."""
    rows = (
        corpus.select(F.posexplode(F.col("embedding")).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("thr"))
        .orderBy("pos")
        .collect()
    )
    return [float(r.thr) for r in rows]


def _bq_words(vec_col, thr: list[float]):
    """Pack sign bits into words: words[j] bit i (LSB-first) =
    (x_{32j+i} > thr_{32j+i}). Pure literal expression tree (dim
    terms), whole-stage-codegen'd — no UDF."""
    dim = len(thr)
    n_words = (dim + _BQ_WORD_BITS - 1) // _BQ_WORD_BITS
    words = []
    for j in range(n_words):
        acc = F.lit(0)
        for i in range(_BQ_WORD_BITS):
            idx = j * _BQ_WORD_BITS + i
            if idx >= dim:
                break
            acc = acc + F.when(
                F.element_at(vec_col, idx + 1).cast("double")
                > F.lit(float(thr[idx])),
                F.lit(1 << i),
            ).otherwise(F.lit(0))
        # LONG words: bit 31 of a 32-bit payload already exceeds the
        # signed-int range (2^31), and long arithmetic keeps the
        # div/mod bit extraction exact in doubles (< 2^53)
        words.append(acc.cast("long"))
    return F.array(*words)


def _bq_score(qe_col, words_col, dim: int):
    """Asymmetric score s = sum_i q_i * (2*b_i - 1), i ascending (one
    sequential fold — deterministic, engine-portable; the oracle's
    list_sum(list_transform(...)) sums the same doubles in the same
    order). Bit extraction is div/mod arithmetic (Spark's shiftright
    needs a literal shift): b = floor(word / 2^(i mod 32)) % 2 —
    exact for int words. The divisor 2^(i mod 32) comes from a
    32-element literal power-of-two array (each value exact in a
    double), not pow(): a transcendental call per bit per candidate
    is measurable waste on the probe hot path at scale; element_at
    into a constant array is integer-cheap and arithmetic-identical."""
    pow2 = F.array(*[F.lit(float(1 << b)) for b in range(_BQ_WORD_BITS)])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(qe_col, i + 1).cast("double")
        * (
            F.lit(2.0)
            * (
                F.floor(
                    F.element_at(
                        words_col, F.floor(i / F.lit(32)).cast("int") + 1
                    )
                    / F.element_at(pow2, (i % 32).cast("int") + 1)
                )
                % 2
            )
            - F.lit(1.0)
        ),
    )


def write_bq_index(
    corpus: DataFrame, path: str, n_centroids: int = 8, iters: int = 1,
    centroids: DataFrame | None = None,
    thresholds: list[float] | None = None,
) -> None:
    """Build + persist an IVF-BQ index: `codes/` parquet partitioned
    by (commit, centroid_id) holding packed sign-bit words (1
    bit/dim), `centroids/` (the coarse quantizer — routing uses the
    RAW vector), `meta/` (the per-dim thresholds — the frozen
    binarizer), `manifest/` LAST. `centroids`/`thresholds` pin a
    precomputed model (tests rebuild build+append equivalents)."""
    thr = thresholds if thresholds is not None else bq_thresholds(corpus)
    _write_coarse_index(
        ANN_FAMILIES["bq"], corpus, path, n_centroids, iters, centroids,
        Row(thr=thr, dim=len(thr)),
    )


def append_bq_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """Incremental IVF-BQ maintenance: frozen quantizer + frozen
    thresholds, new commit partition, manifest last — same replay
    contract as every append here (see _commit)."""
    return _coarse_commit(
        ANN_FAMILIES["bq"], spark, path, new_vectors, batch_id, app_id
    )


def upsert_bq_index(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """UPSERT into a stored IVF-BQ index: horizon-scoped tombstone +
    re-binarized replacement codes in one atomic commit (the semantics
    of upsert_ivf_index, the crash and replay contract of _commit)."""
    return _coarse_commit(
        ANN_FAMILIES["bq"], spark, path, new_vectors, batch_id, app_id,
        upsert=True,
    )


class BqIndexHandle(IvfIndexHandle):
    """An OPENED stored IVF-BQ index (the shared coarse-routed handle,
    see IvfIndexHandle): `meta` holds the frozen thresholds (thr, dim),
    `scan` the committed packed words."""

    kind = "bq"


def open_bq_index(
    spark, path: str, as_of: int | None = None
) -> BqIndexHandle:
    """Open a stored IVF-BQ index for repeated probing."""
    return BqIndexHandle(spark, path, as_of=as_of)


def bq_ann_stored(
    spark, index, queries: DataFrame, k: int = 10, nprobe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probe a stored IVF-BQ index: route each query to its nprobe
    nearest coarse centroids (broadcast — dynamic partition pruning on
    the codes scan, the family's shared plan shape) and rank by the
    asymmetric score s = sum_i q_i * (2*b_i - 1), 6dp-rounded, ties
    (s DESC, vec_id ASC). The corpus-sized table in flight is the
    pruned 1-bit-words scan — 32x smaller than fp32; raw embeddings
    are never read. `allowed`/tombstones behave exactly as on the
    sibling probes. Returns (query_id, vec_id, score, rk)."""
    h = index if isinstance(index, BqIndexHandle) else BqIndexHandle(
        spark, index
    )
    return _coarse_probe(h, queries, k, nprobe, allowed)


def clone_bq_index(spark, src: str, dst: str, as_of: int | None = None):
    """Deep-clone a stored IVF-BQ index (coarse quantizer + threshold
    meta copied verbatim; the clone re-binarizes nothing)."""
    _clone_family("bq", spark, src, dst, as_of)


def bq_code_balance(spark, path: str) -> DataFrame:
    """QUANTIZER-DRIFT METRIC for the IVF-BQ family — completes the
    drift triple (sq8_quantization_error / pq_reconstruction_error /
    this). A 1-bit code has no reconstruction to score; what degrades
    as the live distribution shifts past the FROZEN per-dim mean
    thresholds is the code's BALANCE: a mean-threshold bit splits a
    stationary corpus ~50/50 per dimension (maximum one-bit entropy),
    and frozen-threshold appends on a shifted distribution skew it —
    a dimension whose bits are 90% identical carries almost no
    ranking information. Per dimension: bias = |mean(bit) - 0.5| over
    the LIVE codes; returns ONE row (n_dims, mean_bias, max_bias),
    6dp-floored per dim before the aggregates for cross-engine
    hashing. A fresh build reads near 0 (exactly 0 only for even
    corpus sizes with symmetric values); reindex_bq at the knee.

    Scale: the packed-words scan explodes to dim rows/vector — the
    same fan-out the oracle's unnest pays — then ONE (pos)-keyed
    map-side-combined aggregation; dim scalars reach the driver."""
    h = BqIndexHandle(spark, path)
    live = _anti_tombstones(h.scan, h.tombstones)
    pow2 = F.array(*[F.lit(float(1 << b)) for b in range(_BQ_WORD_BITS)])
    ex = live.select(
        "words",
        F.explode(F.sequence(F.lit(0), F.lit(h.meta.dim - 1))).alias("pos"),
    )
    bit = (
        F.floor(
            F.element_at(
                F.col("words"), F.floor(F.col("pos") / F.lit(32)).cast("int") + 1
            )
            / F.element_at(pow2, (F.col("pos") % 32).cast("int") + 1)
        )
        % 2
    ).cast("double")
    per_dim = (
        ex.select("pos", bit.alias("bit"))
        .groupBy("pos")
        .agg(
            (
                F.floor(F.abs(F.avg("bit") - F.lit(0.5)) * 1e6 + 0.5) / 1e6
            ).alias("bias")
        )
    )
    return per_dim.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        (F.floor(F.avg("bias") * 1e6 + 0.5) / 1e6).alias("mean_bias"),
        F.max("bias").alias("max_bias"),
    )


def bq_ann_rescored(
    spark, index, corpus: DataFrame, queries: DataFrame, k: int = 10,
    nprobe: int = 2, rfactor: int = 3,
) -> DataFrame:
    """TWO-STAGE BQ serving — the standard binary-quantization recipe
    (compressed recall, exact precision): the 1-bit asymmetric probe
    produces a k*rfactor shortlist from the 32x-compressed scan, then
    ONLY those rows are re-scored with exact cosine against the raw
    corpus and re-ranked to top-k. The corpus scan is shortlist-
    driven: the bounded (queries x k*rfactor) id set broadcasts into
    one pruned pass over `corpus` — at 100 TB the fp32 table is
    touched for a few hundred rows per query, never scanned for
    ranking. Mirrors ivfpq_stored_refine; fully deterministic, so the
    composed oracle (BQ chain nested under the exact rescore) is
    FULL."""
    shortlist = bq_ann_stored(
        spark, index, queries, k=k * rfactor, nprobe=nprobe
    )
    rescored = (
        corpus.select("vec_id", F.col("embedding").alias("ce"))
        .join(F.broadcast(shortlist.select("query_id", "vec_id")), "vec_id")
        .join(
            F.broadcast(
                queries.select("query_id", F.col("embedding").alias("qe"))
            ),
            "query_id",
        )
        .select(
            "query_id", "vec_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def reindex_bq(
    spark, src_path: str, dst_path: str, corpus: DataFrame,
    n_centroids: int = 8, iters: int = 1,
) -> None:
    """OFFLINE REINDEX for the IVF-BQ family — retrain the per-dim
    mean thresholds and the coarse quantizer. 1-bit codes carry no
    magnitudes (the 32x compression IS the point), so unlike SQ8
    there is nothing faithful to reconstruct from the index alone:
    the raw vectors come from `corpus`, the same source-of-truth
    table the two-stage rescorer (bq_ann_rescored) already requires a
    BQ deployment to keep. MEMBERSHIP still comes from the index —
    the live vec_ids (committed minus tombstoned/superseded, exactly
    what probes may return) semi-join the corpus, so deletes resolve
    and rows the corpus dropped fall out. Pinned bit-identical to
    write_bq_index over that live corpus; with recall_bq this closes
    the measure->reindex loop for the fifth family. src stays live
    throughout; cutover is the caller swapping paths."""
    h = BqIndexHandle(spark, src_path)
    live_ids = _anti_tombstones(h.scan, h.tombstones).select("vec_id")
    live = corpus.select("vec_id", "embedding").join(
        live_ids.distinct(), "vec_id", "semi"
    )
    write_bq_index(live, dst_path, n_centroids=n_centroids, iters=iters)


class IndexFamily(NamedTuple):
    """One row of the stored-ANN family table (ANN_FAMILIES): the
    commit-partition layout and writers every row has, plus — for the
    coarse-routed rows — what the shared build/append/upsert/handle/
    probe/clone need to know about the payload."""

    subdirs: list  # the *_INDEX_SUBDIRS layout; subdirs[0] holds the payload
    append: Callable
    upsert: Callable
    model: tuple = ()  # frozen-model dirs, read by handles, copied by clone
    col: str | None = None  # payload column of subdirs[0]
    encode: Callable | None = None  # (raw vector col, meta row) -> payload
    score: Callable | None = None  # (query vec col, payload col, meta row)
    out: str = "cos"  # the probe's score column
    meta_schema: str | None = None  # the frozen meta row's schema


# index_kind -> family: the coarse-routed rows (ivf/sq/bq) drive the
# shared implementation above; pq shares handle + commit path; every
# row gives stream_ann_index its writers and compaction layout
ANN_FAMILIES = {
    "ivf": IndexFamily(
        IVF_INDEX_SUBDIRS, append_ivf_index, upsert_ivf_index,
        ("centroids",), "ce",
        encode=lambda ce, meta: ce,
        score=lambda qe, ce, meta: F.round(cosine(qe, ce), 6),
    ),
    "sq": IndexFamily(
        SQ_INDEX_SUBDIRS, append_sq_index, upsert_sq_index,
        ("centroids", "meta"), "codes",
        encode=lambda ce, meta: _sq8_codes(ce, meta.lo, meta.hi),
        score=_sq8_score,
        meta_schema="lo array<double>, hi array<double>, dim int",
    ),
    "bq": IndexFamily(
        BQ_INDEX_SUBDIRS, append_bq_index, upsert_bq_index,
        ("centroids", "meta"), "words",
        encode=lambda ce, meta: _bq_words(ce, meta.thr),
        score=lambda qe, w, meta: F.round(_bq_score(qe, w, meta.dim), 6),
        out="score",
        meta_schema="thr array<double>, dim int",
    ),
    "pq": IndexFamily(
        PQ_INDEX_SUBDIRS, append_pq_index, upsert_pq_index,
        ("centroids", "codebooks", "meta"), "code",
    ),
    "graph": IndexFamily(
        GRAPH_INDEX_SUBDIRS, append_graph_index, upsert_graph_index
    ),
}
