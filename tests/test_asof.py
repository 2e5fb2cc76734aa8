"""Time travel (`as_of=` snapshot reads) on the stored index families.

The commit-partition layout makes snapshots one filter: a handle
opened `as_of=N` pins the manifest-committed commits <= N, and since
data, tombstones, AND versioned meta all key on `commit`, the pinned
list yields the index exactly as it stood after commit N (see
simsearch._snapshot_commits). These tests pin the contract family by
family: an as-of probe equals the probe a reader ran BEFORE the later
writes happened, later tombstones don't apply, and history consumed
by compaction raises instead of silently serving the wrong snapshot.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from agni_spark.functions import simsearch, text


def _emb_rows(n=40, dim=8):
    rows = []
    for i in range(n):
        c = i % 4
        v = [0.05 * ((i * 7 + d) % 5) for d in range(dim)]
        v[c * 2] += 4.0
        rows.append((i, [float(x) for x in v]))
    return rows


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _emb_rows(), "vec_id long, embedding array<float>"
    ).persist()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _neg(df):
    return df.select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_asof_beyond_head_raises(spark, emb):
    # Delta/Iceberg `VERSION AS OF` errors on a nonexistent version; a
    # typo'd as_of above HEAD must not silently serve HEAD
    path = tempfile.mkdtemp(prefix="asof_over_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)  # commits=[0]
    with pytest.raises(ValueError, match="exceeds the newest"):
        simsearch.open_ivf_index(spark, path, as_of=20)


def test_ivf_asof_hides_later_upsert(spark, emb, queries):
    # build (0) + append (1), snapshot the probe, then upsert (2):
    # as_of=1 must reproduce the pre-upsert result bit for bit, and
    # the default (latest) open must NOT
    path = tempfile.mkdtemp(prefix="asof_ivf_")
    evens = emb.where(F.col("vec_id") % 2 == 0)
    odds = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    simsearch.write_ivf_index(evens, path, n_centroids=4)
    simsearch.append_ivf_index(spark, path, odds)
    before = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2)
    )
    simsearch.upsert_ivf_index(
        spark, path, _neg(emb.where(F.col("vec_id") % 9 == 0))
    )
    h1 = simsearch.open_ivf_index(spark, path, as_of=1)
    assert _rows(
        simsearch.ivf_ann_stored(spark, h1, queries, k=8, nprobe=2)
    ) == before
    latest = _rows(simsearch.ivf_ann_stored(spark, path, queries, k=8,
                                            nprobe=2))
    assert latest != before  # the upsert is visible at HEAD


def test_ivf_asof_build_only_snapshot(spark, emb, queries):
    # as_of=0 serves the build half alone — the append never happened
    path = tempfile.mkdtemp(prefix="asof_ivf0_")
    evens = emb.where(F.col("vec_id") % 2 == 0)
    simsearch.write_ivf_index(evens, path, n_centroids=4)
    build_only = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2)
    )
    simsearch.append_ivf_index(
        spark, path,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    h0 = simsearch.open_ivf_index(spark, path, as_of=0)
    assert _rows(
        simsearch.ivf_ann_stored(spark, h0, queries, k=8, nprobe=2)
    ) == build_only


def test_asof_head_equals_default_open(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="asof_head_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    simsearch.append_ivf_index(
        spark, path,
        spark.createDataFrame([(100, [3.0] * 8)],
                              "vec_id long, embedding array<float>"),
    )
    h = simsearch.open_ivf_index(spark, path, as_of=1)
    assert _rows(
        simsearch.ivf_ann_stored(spark, h, queries, k=8, nprobe=2)
    ) == _rows(simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2))


def test_asof_before_retention_raises(spark, emb):
    # compaction rewrites history: commits {0,1} fold into 2 and leave
    # the manifest; as_of=1 now predates every committed commit
    path = tempfile.mkdtemp(prefix="asof_ret_")
    simsearch.write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path,
                              n_centroids=4)
    simsearch.append_ivf_index(
        spark, path,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    with pytest.raises(ValueError, match="compaction"):
        simsearch.open_ivf_index(spark, path, as_of=1)
    # the compacted commit itself is still addressable
    h = simsearch.open_ivf_index(spark, path, as_of=2)
    assert h.commits == [2]


def test_pq_asof_hides_later_append(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="asof_pq_")
    evens = emb.where(F.col("vec_id") % 2 == 0)
    simsearch.write_pq_index(evens, path, n_centroids=4, m=4, ksub=8)
    before = _rows(simsearch.ivfpq_stored(spark, path, queries, k=8,
                                          nprobe=2))
    simsearch.append_pq_index(
        spark, path,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    h0 = simsearch.open_pq_index(spark, path, as_of=0)
    assert _rows(
        simsearch.ivfpq_stored(spark, h0, queries, k=8, nprobe=2)
    ) == before
    assert _rows(
        simsearch.ivfpq_stored(spark, path, queries, k=8, nprobe=2)
    ) != before


def test_graph_asof_pins_versioned_meta(spark, emb, queries):
    # the as-of handle must serve BOTH the historical edge set and the
    # historical meta (entries / degree bound) — versioned meta
    # resolves against the pinned commit list
    path = tempfile.mkdtemp(prefix="asof_graph_")
    evens = emb.where(F.col("vec_id") % 2 == 0)
    simsearch.write_graph_index(evens, path, knn=4, n_buckets=2)
    h_before = simsearch.open_graph_index(spark, path)
    before = _rows(simsearch.graph_ann_stored(spark, h_before, queries,
                                              k=5, beam=6, hops=2))
    entries_before = h_before.entries
    simsearch.append_graph_index(
        spark, path,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    h0 = simsearch.open_graph_index(spark, path, as_of=0)
    assert h0.entries == entries_before
    assert h0.max_out_degree == h_before.max_out_degree
    assert _rows(simsearch.graph_ann_stored(spark, h0, queries,
                                            k=5, beam=6, hops=2)) == before


def test_text_asof_scores_historical_corpus(spark):
    # BM25 corpus stats must fold over the snapshot, not merely hide
    # rows: as_of=1 reproduces the pre-delete ranking exactly
    docs = spark.createDataFrame(
        [(i, ("fast query engine " * (1 + i % 3)
              + ("spark streams " if i % 2 else "columnar scans ")).strip())
         for i in range(24)],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="asof_text_")
    text.write_text_index(docs.where(F.col("doc_id") % 2 == 0), path)
    text.append_text_index(spark, path,
                           docs.where(F.col("doc_id") % 2 == 1))
    before = _rows(text.bm25_topk_indexed(spark, path,
                                          ["fast", "spark"], k=8))
    simsearch.delete_from_index(
        spark, path, docs.where(F.col("doc_id") % 3 == 0).select("doc_id"),
        simsearch.TEXT_INDEX_SUBDIRS, id_col="doc_id",
    )
    h1 = text.open_text_index(spark, path, as_of=1)
    assert _rows(text.bm25_topk_indexed(spark, h1,
                                        ["fast", "spark"], k=8)) == before
    assert _rows(text.bm25_topk_indexed(spark, path,
                                        ["fast", "spark"], k=8)) != before


def test_index_history_lists_manifest_truth(spark, emb):
    path = tempfile.mkdtemp(prefix="hist_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    simsearch.append_ivf_index(
        spark, path,
        spark.createDataFrame([(100, [3.0] * 8)],
                              "vec_id long, embedding array<float>"),
        batch_id=4,
    )
    got = [(r.commit, r.batch_id)
           for r in simsearch.index_history(spark, path).collect()]
    assert got == [(0, None), (1, 4)]


def test_recall_at_k_bounds(spark, emb, queries):
    from agni_spark.functions.simsearch import cosine_topk, recall_at_k

    exact = cosine_topk(emb, queries, k=5)
    perfect = recall_at_k(exact, exact, k=5)
    assert all(r.recall == 1.0 for r in perfect.collect())
    # k smaller than the frames' rk bound still compares k-for-k
    part = recall_at_k(exact.where(F.col("rk") > 2), exact, k=5)
    assert all(r.n_hit == 3 and r.n_true == 5 for r in part.collect())


def test_reindex_folds_upserts_and_deletes(spark, emb, queries):
    # upsert (%9 negated) + delete (%5) then reindex: the new index
    # must equal a fresh build over exactly the surviving live corpus
    src = tempfile.mkdtemp(prefix="reidx_src_")
    simsearch.write_ivf_index(emb, src, n_centroids=4)
    simsearch.upsert_ivf_index(spark, src,
                               _neg(emb.where(F.col("vec_id") % 9 == 0)))
    simsearch.delete_from_index(
        spark, src, emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        simsearch.IVF_INDEX_SUBDIRS,
    )
    dst = tempfile.mkdtemp(prefix="reidx_dst_")
    simsearch.reindex_ivf(spark, src, dst, n_centroids=4)

    live = (
        emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") % 9 == 0,
                   F.transform("embedding", lambda x: -x))
            .otherwise(F.col("embedding")),
        )
        .where(F.col("vec_id") % 5 != 0)
        .select("vec_id", "embedding")
    )
    fresh = tempfile.mkdtemp(prefix="reidx_fresh_")
    simsearch.write_ivf_index(live, fresh, n_centroids=4)
    assert _rows(
        simsearch.ivf_ann_stored(spark, dst, queries, k=8, nprobe=2)
    ) == _rows(
        simsearch.ivf_ann_stored(spark, fresh, queries, k=8, nprobe=2)
    )

def test_reindex_pq_requires_sidecar_and_matches_fresh_build(
    spark, emb, queries
):
    # (a) without vectors/ the reindex refuses (PQ codes are lossy —
    # nothing faithful to retrain on); (b) with the sidecar, reindex
    # over build+append+delete equals a fresh build on the live corpus
    bare = tempfile.mkdtemp(prefix="reidx_pq_bare_")
    simsearch.write_pq_index(emb, bare, n_centroids=4, m=4, ksub=8)
    with pytest.raises(ValueError, match="vectors/ sidecar"):
        simsearch.reindex_pq(spark, bare, tempfile.mkdtemp())

    src = tempfile.mkdtemp(prefix="reidx_pq_src_")
    simsearch.write_pq_index(
        emb.where(F.col("vec_id") % 2 == 0), src,
        n_centroids=4, m=4, ksub=8, store_vectors=True,
    )
    simsearch.append_pq_index(
        spark, src,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    simsearch.delete_from_index(
        spark, src, emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        simsearch.PQ_INDEX_SUBDIRS,
    )
    dst = tempfile.mkdtemp(prefix="reidx_pq_dst_")
    simsearch.reindex_pq(spark, src, dst, n_centroids=4, m=4, ksub=8)

    fresh = tempfile.mkdtemp(prefix="reidx_pq_fresh_")
    simsearch.write_pq_index(
        emb.where(F.col("vec_id") % 5 != 0), fresh,
        n_centroids=4, m=4, ksub=8, store_vectors=True,
    )
    got = _rows(simsearch.ivfpq_stored(spark, dst, queries, k=8, nprobe=2))
    assert got == _rows(
        simsearch.ivfpq_stored(spark, fresh, queries, k=8, nprobe=2)
    ) and len(got) > 0


def test_reindex_sq8_retrains_on_dequantized_live_rows(spark, emb, queries):
    # reindex over a pure build equals write_sq_index over the
    # DEQUANTIZED corpus bit for bit (same rows -> same seeded kmeans
    # -> same trimmed bounds); deletes resolve before the retrain
    src = tempfile.mkdtemp(prefix="reidx_sq_src_")
    simsearch.write_sq_index(emb, src, n_centroids=4)
    simsearch.delete_from_index(
        spark, src, emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        simsearch.SQ_INDEX_SUBDIRS,
    )
    dst = tempfile.mkdtemp(prefix="reidx_sq_dst_")
    simsearch.reindex_sq8(spark, src, dst, n_centroids=4)

    h = simsearch.open_sq_index(spark, src)
    recon = simsearch._anti_tombstones(h.scan, h.tombstones).select(
        "vec_id",
        simsearch._sq8_dequant(F.col("codes"), h.meta.lo, h.meta.hi).alias("embedding"),
    )
    fresh = tempfile.mkdtemp(prefix="reidx_sq_fresh_")
    simsearch.write_sq_index(recon, fresh, n_centroids=4)
    got = _rows(simsearch.sq_ann_stored(spark, dst, queries, k=8, nprobe=2))
    assert got == _rows(
        simsearch.sq_ann_stored(spark, fresh, queries, k=8, nprobe=2)
    ) and len(got) > 0
    # the deleted ids are physically absent from the retrained index
    assert not {int(r.vec_id) for r in
                spark.read.parquet(f"{dst}/codes").collect()} & {
        int(r.vec_id) for r in
        emb.where(F.col("vec_id") % 5 == 0).collect()
    }

def test_reindex_graph_matches_fresh_build(spark, emb, queries):
    # the clean rebuild: upsert (%9 moved) + delete (%5), then
    # reindex_graph == write_graph_index over exactly the live rows
    # (newest vectors, deleted ids gone) — fresh layer 0, fresh
    # uppers, fresh entries, no carried insertion history
    src = tempfile.mkdtemp(prefix="reidx_g_src_")
    simsearch.write_graph_index(emb, src, knn=4, n_buckets=4)
    simsearch.upsert_graph_index(spark, src,
                                 _neg(emb.where(F.col("vec_id") % 9 == 0)))
    simsearch.delete_from_index(
        spark, src, emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        simsearch.GRAPH_INDEX_SUBDIRS,
    )
    dst = tempfile.mkdtemp(prefix="reidx_g_dst_")
    simsearch.reindex_graph(spark, src, dst)

    live = (
        emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") % 9 == 0,
                   F.transform("embedding", lambda x: -x))
            .otherwise(F.col("embedding")),
        )
        .where(F.col("vec_id") % 5 != 0)
        .select("vec_id", "embedding")
    )
    fresh = tempfile.mkdtemp(prefix="reidx_g_fresh_")
    simsearch.write_graph_index(live, fresh, knn=4, n_buckets=4)
    got = _rows(simsearch.graph_ann_stored(spark, dst, queries, k=8, beam=8))
    assert got == _rows(
        simsearch.graph_ann_stored(spark, fresh, queries, k=8, beam=8)
    ) and len(got) > 0
    # no tombstones carried into the rebuild
    import os
    assert not os.path.exists(f"{dst}/tombstones")

def test_reindex_bq_matches_fresh_build(spark, emb, queries):
    # membership from the index (deletes resolved), vectors from the
    # corpus source of truth; equals a fresh build over the survivors
    src = tempfile.mkdtemp(prefix="reidx_bq_src_")
    simsearch.write_bq_index(emb, src, n_centroids=4)
    simsearch.delete_from_index(
        spark, src, emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        simsearch.BQ_INDEX_SUBDIRS,
    )
    dst = tempfile.mkdtemp(prefix="reidx_bq_dst_")
    simsearch.reindex_bq(spark, src, dst, emb, n_centroids=4)
    fresh = tempfile.mkdtemp(prefix="reidx_bq_fresh_")
    simsearch.write_bq_index(
        emb.where(F.col("vec_id") % 5 != 0), fresh, n_centroids=4
    )
    got = [tuple(r) for r in
           simsearch.bq_ann_stored(spark, dst, queries, k=8,
                                   nprobe=2).collect()]
    want = [tuple(r) for r in
            simsearch.bq_ann_stored(spark, fresh, queries, k=8,
                                    nprobe=2).collect()]
    assert got == want and len(got) > 0
