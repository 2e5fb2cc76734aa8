"""Deduplication operators for LLM training-data pipelines (north-star
extension tier): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Cross-engine determinism: every hash is derived from md5 (identical in
Spark, DuckDB, and Python), parsed as a 60-bit integer:
  Spark : conv(substr(md5(s), 1, 15), 16, 10) :: long
  DuckDB: ('0x' || substr(md5(s), 1, 15)) :: BIGINT

Scale design (100 TB):
- exact dedup = one shuffle on the content hash;
- Jaccard pairs = shingle-key join; `max_df` drops stop-shingles so a
  hot shingle can't quadratically explode the join (the standard
  frequency cap); AQE skew-join splits what remains;
- MinHash+LSH = signatures in ONE pass over exploded shingles (16 min
  aggs), then banded bucket join — candidate pairs only, never all
  pairs;
- SimHash = 16-bit signature via per-bit majority vote, one groupBy;
- embedding near-dup = block by LSH bucket first at scale; the exact
  variant here joins on id inequality only (testable sizes).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_MINHASH = 16
SIMHASH_BITS = 16

# Universal hashing for MinHash: ONE md5 per shingle, then n cheap
# linear transforms mh_j = (a_j * h + b_j) mod P over P = 2^31 - 1
# (Mersenne prime; h < 2^31 so a*h fits int64 on every engine).
# 16x less hashing on the exploded-shingle hot path than per-j md5.
MINHASH_P = 2147483647
MINHASH_AB = [
    (966089094, 1857433701),
    (480631838, 374120058),
    (2108448132, 1076028303),
    (624808879, 780846434),
    (606530822, 1008925363),
    (1526554649, 738070115),
    (691391971, 765317309),
    (991337253, 2123026852),
    (1731773985, 553377715),
    (1059755009, 2018466022),
    (860998362, 438028787),
    (1144951266, 1453263485),
    (1064822575, 201441963),
    (242572994, 381717194),
    (1760945394, 2023084616),
    (671106768, 26216379),
]


def hash60(col: Column) -> Column:
    """60-bit positive integer from md5 — portable across engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def py_hash60(s: str) -> int:
    """Python twin of hash60 (for tests / plane generation)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def normalized(text: Column) -> Column:
    return F.lower(F.regexp_replace(text, "\\s+", " "))


# -- exact ------------------------------------------------------------------
def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content hash
    with group size and the kept (minimum) doc_id."""
    h = docs.select("doc_id", hash60(normalized(F.col("text"))).alias("h"))
    return (
        h.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_dups") > 1)
        .orderBy("keep_doc_id")
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Kept documents after exact dedup (min doc_id per content hash)."""
    h = docs.withColumn("h", hash60(normalized(F.col("text"))))
    keep = h.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


# -- shingling --------------------------------------------------------------
def shingles(docs: DataFrame, k: int = 3, distinct: bool = True) -> DataFrame:
    """Word k-shingles per document. Docs with fewer than k words yield
    no shingles (filtered BEFORE the transform — Spark's sequence(1, n)
    descends for n < 1 and slice(_, 0, _) throws).

    distinct=True (set semantics) is required wherever shingles are
    COUNTED (Jaccard). Consumers that only take per-doc MINIMA over
    hashed shingles (MinHash) pass distinct=False: min() is duplicate-
    insensitive, and skipping the distinct removes a full shuffle of
    the exploded shingle table — the largest intermediate in the
    pipeline (docs x shingles rows).

    The words array is materialized as a real column BEFORE the
    transform: higher-order-function lambdas are interpreted (no
    whole-stage codegen, no subexpression elimination), so a
    `slice(split(text), i, k)` in the lambda body would re-split the
    whole text once per window position — O(words^2) character work
    per document."""
    w = docs.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(
        F.size(F.col("w")) >= k
    )
    grams = F.expr(
        f"transform(sequence(1, size(w) - {k - 1}), "
        f"i -> concat_ws(' ', slice(w, i, {k})))"
    )
    out = w.select("doc_id", F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1
    shingle; emits pairs with J >= threshold.

    max_df: drop shingles occurring in more than max_df documents
    before the join (frequency cap against quadratic blowup on hot
    shingles — essential at scale, exact results unaffected when the
    cap exceeds any true near-dup cluster size)."""
    sh = shingles(docs, k)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        # sa/sb are O(n_docs): never force-broadcast (at 1e9 docs that
        # OOMs); these are equi-joins on doc_id — AQE size-broadcasts
        # at runtime when the side genuinely fits.
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(j, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: containment C(A in B) =
    |A ∩ B| / |A| over k-shingle sets — catches a small document
    embedded in a larger one, which symmetric Jaccard misses (J shrinks
    with the size gap; C doesn't). Emits ordered pairs where the
    SMALLER-keyed side's shingles are >= threshold contained in the
    other, both directions scored from one shingle join. Same hot-
    shingle `max_df` cap and AQE-sized joins as jaccard_pairs."""
    sh = shingles(docs, k)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment_a_in_b",
            F.round(F.col("n_common") / F.col("n_a"), 6),
        )
        .withColumn(
            "containment_b_in_a",
            F.round(F.col("n_common") / F.col("n_b"), 6),
        )
        .where(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .select(
            "doc_a", "doc_b", "n_common",
            "containment_a_in_b", "containment_b_in_a",
        )
        .orderBy("doc_a", "doc_b")
    )


# -- MinHash + LSH ----------------------------------------------------------
def minhash_signatures(
    docs: DataFrame, k: int = 3, n_hashes: int = N_MINHASH
) -> DataFrame:
    """n_hashes-wide MinHash signature per doc, computed in ONE pass
    over the exploded shingles: one md5 per shingle, n_hashes universal
    linear transforms, n_hashes min-aggregations."""
    sh = shingles(docs, k, distinct=False).withColumn(
        "hp", hash60(F.col("shingle")) % F.lit(MINHASH_P)
    )
    aggs = [
        F.min((F.lit(a) * F.col("hp") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_AB[:n_hashes])
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_buckets(
    sigs: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """(doc_id, band, bucket) LSH bucket table from a signature table:
    bucket = md5 over the band's `rows` signature components."""
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(keys).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidates.
    bands*rows must equal the signature width. All bands explode into
    one (band, bucket) table and candidates come from a SINGLE
    self-join on the composite key — one shuffle of bands*n rows
    instead of `bands` separate joins + union (same output; distinct
    dedupes docs colliding in multiple bands)."""
    bucketed = minhash_buckets(sigs, bands, rows)
    x = bucketed.alias("x")
    y = bucketed.alias("y")
    return (
        x.join(y, ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """LSH candidates refined by estimated similarity = fraction of
    equal minhash components (an unbiased Jaccard estimator).

    The signature table (n_docs x n_hashes longs — tiny relative to the
    corpus) feeds every band's bucket join plus both sides of the
    refinement join; persist it so the shingle explode + min-aggs run
    once, not once per branch."""
    sigs = minhash_signatures(docs, k, bands * rows).persist()
    cands = lsh_candidate_pairs(sigs, bands, rows)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(bands * rows)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(bands * rows)],
    )
    n = bands * rows
    est = (
        sum(
            F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
            for j in range(n)
        )
        / F.lit(float(n))
    )
    return (
        # a/b are the FULL signature table (O(n_docs) x n ints): no
        # forced broadcast — candidates are equi-keyed on doc_id and
        # AQE picks broadcast only when the side actually fits.
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


def split_leakage(
    docs: DataFrame,
    test_pct: int = 10,
    k: int = 3,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs that CROSS the
    deterministic hash split — a test document with a train near-dup
    inflates eval scores without the model generalizing (the
    decontamination check every training pipeline needs before a split
    ships; cf. GPT-3 appendix C / Dodge et al. C4 audit methodology,
    run INSIDE the engine instead of ad hoc).

    Composition, all existing machinery: split_assign's stable
    md5-bucket split (never rand() — a reshuffle would itself leak) ×
    MinHash-LSH candidate pairs refined by estimated Jaccard. Output:
    one row per (test_doc, train_doc) offending pair. Scale: identical
    to minhash_dedup_pairs (banded bucket joins, candidates only) plus
    two projection-only split joins."""
    from agni_spark.functions.text import split_assign

    pairs = minhash_dedup_pairs(docs, k, threshold, bands, rows)
    split = split_assign(docs, test_pct)
    sa = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    test_first = F.col("split_a") == "test"
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(test_first, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc"),
            F.when(test_first, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            "est_jaccard",
        )
        .orderBy("test_doc", "train_doc")
    )


# -- stored MinHash signature index (incremental corpus dedup) --------------
def write_minhash_index(
    docs: DataFrame, path: str, k: int = 3, bands: int = 4, rows: int = 4
) -> None:
    """Persist the corpus's MinHash state so NEW batches can be
    dedup-checked without re-reading the corpus: `sigs/` (one row per
    doc) and `buckets/` (bands x docs, partitioned by band) under
    `commit=` partitions with a manifest written LAST (block-store
    registry pattern — a crashed build/append is never served).

    At 100 TB the buckets table is the inverted index of the corpus;
    an incoming batch probes it with a join keyed on (band, bucket),
    touching only colliding buckets."""
    from agni_spark.functions.simsearch import _write_index_manifest

    sigs = minhash_signatures(docs, k, bands * rows)
    (
        sigs.withColumn("commit", F.lit(0).cast("long"))
        .write.partitionBy("commit")
        .mode("overwrite")
        .parquet(f"{path}/sigs")
    )
    (
        minhash_buckets(sigs, bands, rows)
        .withColumn("commit", F.lit(0).cast("long"))
        .repartition("band")
        .write.partitionBy("commit", "band")
        .mode("overwrite")
        .parquet(f"{path}/buckets")
    )
    _write_index_manifest(docs.sparkSession, path, [0])


def append_minhash_index(
    spark, path: str, new_docs: DataFrame, k: int = 3, bands: int = 4,
    rows: int = 4,
) -> None:
    """Register a new batch in the signature index: O(batch) work, no
    existing partition read or rewritten; manifest rewrite LAST is the
    commit point."""
    from agni_spark.functions.simsearch import MINHASH_INDEX_SUBDIRS, _commit

    def stage(nxt, _commits):
        sigs = minhash_signatures(new_docs, k, bands * rows)
        (
            sigs.withColumn("commit", F.lit(nxt).cast("long"))
            .write.partitionBy("commit")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{path}/sigs")
        )
        (
            minhash_buckets(sigs, bands, rows)
            .withColumn("commit", F.lit(nxt).cast("long"))
            .repartition("band")
            .write.partitionBy("commit", "band")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{path}/buckets")
        )

    # the exclusive claim clears a crashed compact's uncommitted
    # leftover under the id (dynamic overwrite replaces only our own
    # partitions)
    _commit(spark, path, MINHASH_INDEX_SUBDIRS, stage)


def incremental_dup_pairs(
    spark,
    path: str,
    new_docs: DataFrame,
    k: int = 3,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """Dedup-check an incoming batch against the STORED corpus index:
    the batch's buckets join the stored inverted index on (band,
    bucket), candidates refine by estimated Jaccard against the stored
    signatures. Returns (doc_old, doc_new, est_jaccard >= threshold).
    Corpus-side cost is proportional to colliding buckets, not corpus
    size; the batch side is small by definition — this is the
    production shape of continuous-ingest dedup (check-before-admit).
    Ids must be disjoint between index and batch (caller contract)."""
    from agni_spark.functions.simsearch import _committed

    commits = _committed(spark, path)
    n = bands * rows
    new_sigs = minhash_signatures(new_docs, k, n).persist()
    new_buckets = minhash_buckets(new_sigs, bands, rows)
    stored_buckets = (
        spark.read.parquet(f"{path}/buckets")
        .where(F.col("commit").isin(commits))
    )
    cands = (
        stored_buckets.join(new_buckets.withColumnRenamed("doc_id", "doc_new"),
                            ["band", "bucket"])
        .select(F.col("doc_id").alias("doc_old"), "doc_new")
        .distinct()
    )
    stored_sigs = (
        spark.read.parquet(f"{path}/sigs")
        .where(F.col("commit").isin(commits))
        .select(
            F.col("doc_id").alias("doc_old"),
            *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n)],
        )
    )
    bsig = new_sigs.select(
        F.col("doc_id").alias("doc_new"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n)],
    )
    est = (
        sum(
            F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
            for j in range(n)
        )
        / F.lit(float(n))
    )
    return (
        cands.join(stored_sigs, "doc_old")
        .join(bsig, "doc_new")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_old", "doc_new", "est_jaccard")
        .orderBy("doc_old", "doc_new")
    )


# -- connected components (duplicate-cluster assignment) --------------------
def _canonical_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Distinct edges in canonical (src > dst) orientation."""
    return (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("src"),
            F.least(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: connect every strictly-larger neighbor of u to the
    minimum of u's neighborhood (including u itself)."""
    adj = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = adj.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
    return (
        adj.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: for each u, connect u and all its smaller neighbors
    to the minimum of that (smaller-neighbor) set. Operates directly on
    the canonical src>dst edge list — dst IS the smaller neighborhood."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    emitted = (
        edges.join(mins, "src")
        .select(F.col("dst").alias("v"), F.col("m"))
        .union(mins.select(F.col("src").alias("v"), F.col("m")))
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )
    return emitted


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 16,
    small_cutoff: int = 100_000,
) -> DataFrame:
    """Distributed connected components by alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — the published O(log^2 n)-round
    MapReduce algorithm; in practice a handful of rounds). Returns
    `(node, component_id)` for every node appearing in `pairs`, where
    component_id is the minimum node id of the component — the standard
    representative for duplicate-cluster "keep the smallest doc_id"
    policies.

    Spark shape: each star pass is one groupBy-min over the (symmetric)
    adjacency plus one equi-join — min is a map-side-combining
    aggregate, so a hub node NEVER materializes its whole neighborhood
    in a single task (no collect_set/collect_list anywhere). Each round
    ends in an eager localCheckpoint: persist() alone caches DATA but
    the logical plan still references the previous round ~4x (adjacency
    union + two min-joins), i.e. 4^rounds plan nodes — the checkpoint
    truncates lineage so round r plans against a flat scan of round
    r-1 (on a multi-executor cluster, swap in `checkpoint()` against a
    reliable dir for fault tolerance). 100 TB: edge tables stay fully
    distributed; round count grows logarithmically, not with volume.

    Small-graph fast path: the FIRST convergence probe already counts
    the canonical edges; when that count is <= `small_cutoff` (dup
    pairs after LSH banding are usually a sliver of the corpus — 256
    edges at sf0.1), the closure finishes with a driver-side
    union-find in ONE pass instead of paying the multi-job star-round
    tower, the same measured-bound driver-coordination trade the beam
    walk makes (collect is bounded by the cutoff: ~1.6 MB at 100k
    edges). Identical output — union-by-min-root makes every tree
    root its component minimum (test-pinned against the distributed
    path); above the cutoff nothing changes."""
    _sig = lambda df: df.agg(  # noqa: E731 — O(1)-row convergence probe
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash("src", "dst").cast("long")), F.lit(0)).alias("h"),
    ).first()
    cur = _canonical_edges(pairs, a_col, b_col).localCheckpoint(eager=True)
    sig = _sig(cur)
    if sig["n"] <= small_cutoff:
        parent: dict = {}

        def _find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in cur.collect():
            a, b = int(r.src), int(r.dst)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = _find(a), _find(b)
            if ra != rb:
                # attach the LARGER root under the smaller: the root
                # of every tree is the component minimum by induction
                parent[max(ra, rb)] = min(ra, rb)
        return pairs.sparkSession.createDataFrame(
            [(x, _find(x)) for x in parent],
            "node long, component_id long",
        )
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        nsig = _sig(nxt)
        cur, prev_sig, sig = nxt, sig, nsig
        if (nsig["n"], nsig["h"]) == (prev_sig["n"], prev_sig["h"]):
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # Converged: every edge points a node at its component min.
    # min-aggregate defensively (a node may briefly hold two edges
    # when the fixpoint edge set is reached mid-round), and label
    # the minima themselves.
    comp = cur.groupBy("src").agg(F.min("dst").alias("component_id"))
    reps = comp.select(F.col("component_id").alias("src")).distinct()
    return (
        comp.select(F.col("src").alias("node"), "component_id")
        .union(
            reps.select(
                F.col("src").alias("node"), F.col("src").alias("component_id")
            )
        )
        .distinct()
    )


def cluster_dedup(
    docs: DataFrame, pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Duplicate-cluster assignment for the WHOLE corpus: transitive
    closure over candidate `pairs`, singletons are their own component,
    `is_kept` marks the per-cluster representative (minimum doc_id).
    This is the canonical MinHash->clusters->keep-one pipeline tail
    (e.g. the public deduplicate-text-datasets / BigCode pipelines)."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("component_id"),
        )
        .withColumn("is_kept", (F.col("doc_id") == F.col("component_id")).cast("int"))
        .orderBy("doc_id")
    )


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    quality: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Per-cluster representative selection by QUALITY: production
    curation keeps each duplicate cluster's BEST document (highest
    quality score, ties to the lowest doc_id), not its arbitrary
    min-id member — near-dup clusters routinely mix a clean original
    with boilerplate-wrapped or truncated copies, and min-id keeps
    whichever was crawled first. `quality` is any (doc_id, quality)
    frame (text.doc_stats output slots in directly). Returns one row
    per cluster: (cluster_id, rep_doc_id, n_members, best_quality).
    Singletons are their own cluster and representative.

    Spark shape: transitive closure via the same log-round
    connected_components as cluster_dedup, then ONE max_by groupBy —
    map-side combining, no per-cluster row materialization; the
    composite tie-break (quality DESC, doc_id ASC) rides in a single
    struct ordering."""
    comp = connected_components(pairs, a_col, b_col)
    assigned = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .join(quality.select("doc_id", "quality"), "doc_id")
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("quality"), (-F.col("doc_id")).alias("nd")),
            ).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("quality").alias("best_quality"),
        )
        .orderBy("cluster_id")
    )


# -- SimHash ----------------------------------------------------------------
def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash over word features: bit b of the signature
    is the sign of the sum over words of (+1 / -1) according to bit b
    of the word's hash. Distinct words per doc (unweighted variant)."""
    words = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
        .withColumn("h", hash60(F.col("w")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    sig = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(bits)
    )
    return agg.select("doc_id", sig.cast("long").alias("simhash")).orderBy("doc_id")


# -- embedding near-dup -----------------------------------------------------
def cosine(a: Column, b: Column) -> Column:
    """Cosine over array<float> columns, accumulated in double
    (sequential fold — deterministic, engine-portable)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)
    na = F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    nb = F.aggregate(
        b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    return dot / F.sqrt(na * nb)


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """All pairs with cosine >= threshold. Exact O(n^2) variant for
    verification; the scale path blocks by LSH bucket first
    (simsearch.lsh_ann shares the machinery). Norms precompute once
    per vector so the per-pair fold is the dot product only."""
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    e = embeddings.withColumn("nrm", norm)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


# Deterministic projection directions for the grid ε-join: entry i of
# direction j is a cheap LCG value in [-1, 1). Quality only affects
# candidate-set size, never correctness (the verify step is exact), so
# a fixed engine-portable formula beats an RNG.
_PROJ_AB = [(1103515245, 12345), (69069, 362437), (214013, 2531011),
            (134775813, 1), (22695477, 7777), (48271, 1013)]


def _proj_hat(j: int, nrm: Column) -> Column:
    """<a/||a||, u_j> for the j-th deterministic unit direction u_j.

    u_j is materialized implicitly: g_j(i) = LCG(i) scaled to [-1, 1),
    normalized by ||g_j|| (a per-row aggregate over the same index
    range — identical for every row of a fixed-dim table)."""
    a, b = _PROJ_AB[j]

    def g(i: Column) -> Column:
        lcg = (i.cast("long") * F.lit(a) + F.lit(b)) % F.lit(997)
        return lcg.cast("double") / 498.5 - 1.0

    raw = F.aggregate(
        F.transform(F.col("embedding"), lambda x, i: x.cast("double") * g(i)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    gnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x, i: g(i) * g(i)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return raw / (nrm * gnorm)


def embedding_neardup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_filter_projections: int = 4,
) -> DataFrame:
    """EXACT embedding near-dup via a grid ε-join — the declared scale
    path (output identical to `embedding_neardup_pairs`, which serves
    as its oracle, mirroring jaccard_pairs_prefix).

    Principle: for unit vectors, cos(a,b) >= t  <=>  ||â - b̂|| <= r,
    r = sqrt(2(1-t)). Projections onto any unit direction contract
    distances, so |<â,u> - <b̂,u>| <= r for every qualifying pair.
    Band two projections into width-r cells: qualifying pairs differ by
    at most 1 band per axis, so replicating one side to its 3x3 cell
    neighborhood and EQUI-joining on the cell key finds every pair —
    a hash/sort-merge join on a key, never a BroadcastNestedLoop.
    Additional projections apply as cheap scalar pre-filters before the
    exact cosine verification (same fold expression as the naive op, so
    rounded values match float-for-float).

    Scale: candidate volume tracks the true near-dup density (tight
    thresholds -> narrow bands -> high selectivity); loose thresholds
    degrade gracefully toward all-pairs, which is inherent to the
    semantics, while the join stays key-partitioned and AQE-skew-
    splittable."""
    import math

    r = math.sqrt(2.0 * (1.0 - threshold))
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    nproj = min(2 + n_filter_projections, len(_PROJ_AB))
    e = embeddings.select("vec_id", "embedding").withColumn("nrm", norm)
    for j in range(nproj):
        e = e.withColumn(f"p{j}", _proj_hat(j, F.col("nrm")))
    e = e.withColumn("b0", F.floor(F.col("p0") / F.lit(r))).withColumn(
        "b1", F.floor(F.col("p1") / F.lit(r))
    )
    projs = [f"p{j}" for j in range(nproj)]
    probe = e.select(
        F.col("vec_id").alias("id_a"),
        *[F.col(p).alias(f"{p}a") for p in projs],
        F.explode(
            F.array(*[
                F.concat_ws(
                    ",",
                    (F.col("b0") + F.lit(dx)).cast("string"),
                    (F.col("b1") + F.lit(dy)).cast("string"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ).alias("cell"),
    )
    build = e.select(
        F.col("vec_id").alias("id_b"),
        *[F.col(p).alias(f"{p}b") for p in projs],
        F.concat_ws(
            ",", F.col("b0").cast("string"), F.col("b1").cast("string")
        ).alias("cell"),
    )
    cands = probe.join(build, "cell").where(F.col("id_a") < F.col("id_b"))
    for p in projs:
        cands = cands.where(F.abs(F.col(f"{p}a") - F.col(f"{p}b")) <= F.lit(r))
    # exactly ONE of the 9 probe copies can land in the build row's
    # cell, so pairs are already unique — no dedup shuffle needed
    cands = cands.select("id_a", "id_b")
    # exact verification — the SAME expressions as embedding_neardup_pairs
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


def jaccard_pairs_prefix(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (the AllPairs/PPJoin
    principle): two sets with J >= t MUST share an element among the
    first |d| - ceil(t*|d|) + 1 elements of each under a global
    element order. Joining only on rarest-first prefixes shrinks the
    candidate join by ~(1-t)^2 while the verification step keeps the
    output identical to the naive all-pairs join (same oracle).

    The ceil computes over t*n - 1e-9: float over-rounding would
    SHRINK the prefix (unsafe); the epsilon only ever enlarges it,
    which verification absorbs.

    Plan shape: ONE pass builds the per-doc rarest-first sorted shingle
    array (the PPJoin index, persisted — one row per doc), from which
    sizes, prefixes AND verification all derive; the old formulation
    re-derived the exploded shingle table six times (six document
    scans). Verification is array_intersect on the candidate pair's two
    index rows — no exploded-table shuffle at all."""
    sh = shingles(docs, k)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    arr = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ss")
        )
        .select(
            "doc_id",
            F.transform(F.col("ss"), lambda s: s.getField("shingle")).alias(
                "sh_sorted"
            ),
        )
        .persist()
    )
    n_sh = F.size(F.col("sh_sorted"))
    prefix_len = (
        n_sh - F.ceil(F.lit(threshold) * n_sh - F.lit(1e-9)) + 1
    ).cast("int")
    pref = arr.select(
        "doc_id", F.explode(F.slice("sh_sorted", F.lit(1), prefix_len)).alias("shingle")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verification: exact intersection over the FULL shingle sets, read
    # from the persisted index (arr is O(n_docs): equi-joined, never
    # force-broadcast — AQE size-broadcasts when it genuinely fits)
    aa = arr.select(F.col("doc_id").alias("doc_a"), F.col("sh_sorted").alias("_sa"))
    bb = arr.select(F.col("doc_id").alias("doc_b"), F.col("sh_sorted").alias("_sb"))
    n_common = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    j = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        cands.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn("n_common", n_common)
        .withColumn("n_a", F.size("_sa").cast("long"))
        .withColumn("n_b", F.size("_sb").cast("long"))
        .withColumn("jaccard", F.round(j, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
