"""Upsert (horizon-scoped tombstones) on stored IVF / PQ / text indexes."""

from __future__ import annotations

import functools
import tempfile

import pytest
from pyspark.sql import functions as F

from agni_spark.functions import simsearch, text


def _emb_rows(n=40, dim=8):
    # 4 well-separated axis clusters + small deterministic jitter
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


def test_ivf_upsert_replaces_and_inserts(spark, emb, queries):
    # replace ids % 9 == 0 with negated vectors AND insert brand-new
    # ids 100/101; the result must equal a fresh index over the
    # modified corpus built with the SAME frozen quantizer
    path = tempfile.mkdtemp(prefix="up_ivf_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    new_ids = spark.createDataFrame(
        [(100, [3.0] * 8), (101, [0.0] * 7 + [5.0])],
        "vec_id long, embedding array<float>",
    )
    ups = _neg(emb.where(F.col("vec_id") % 9 == 0)).unionByName(new_ids)
    simsearch.upsert_ivf_index(spark, path, ups)
    got = _rows(simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2))

    mod = (
        emb.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") % 9 == 0,
                F.transform("embedding", lambda x: -x),
            ).otherwise(F.col("embedding")),
        )
        .select("vec_id", "embedding")
        .unionByName(new_ids)
    )
    fresh = tempfile.mkdtemp(prefix="up_ivf_fresh_")
    simsearch.write_ivf_index(
        mod, fresh, centroids=spark.read.parquet(f"{path}/centroids")
    )
    want = _rows(simsearch.ivf_ann_stored(spark, fresh, queries, k=8, nprobe=2))
    assert got == want and len(got) > 0


def test_ivf_upsert_latest_wins_and_compact(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="up_ivf2_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    one = emb.where(F.col("vec_id") == 5)
    simsearch.upsert_ivf_index(spark, path, _neg(one))
    simsearch.upsert_ivf_index(spark, path, one)  # upsert back: latest wins
    pre = _rows(simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2))
    base = tempfile.mkdtemp(prefix="up_ivf2_base_")
    simsearch.write_ivf_index(
        emb, base, centroids=spark.read.parquet(f"{path}/centroids")
    )
    assert pre == _rows(
        simsearch.ivf_ann_stored(spark, base, queries, k=8, nprobe=2)
    )
    # compaction scrubs the superseded rows physically, consumes the
    # tombstones, and the probe is unchanged
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    removed = simsearch.vacuum_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    assert any(r.startswith("tombstones/") for r in removed)
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.where(F.col("vec_id") == 5).count() == 1  # one live row
    assert pre == _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2)
    )


def test_delete_wins_over_later_upsert_until_compact(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="up_del_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    dead = spark.createDataFrame([(7,)], "vec_id long")
    simsearch.delete_from_index(
        spark, path, dead, simsearch.IVF_INDEX_SUBDIRS
    )
    one = emb.where(F.col("vec_id") == 7)
    simsearch.upsert_ivf_index(spark, path, one)
    hits = lambda: (
        simsearch.ivf_ann_stored(spark, path, queries, k=100, nprobe=4)
        .where(F.col("vec_id") == 7)
        .count()
    )
    assert hits() == 0  # global delete outweighs the later upsert
    # compaction consumes the delete tombstone (and, with it, every
    # row of id 7 committed before the fold); a fresh upsert then
    # resurrects the id
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    simsearch.upsert_ivf_index(spark, path, one)
    assert hits() > 0


def test_scoped_tombstone_cannot_be_carried(spark, emb):
    # a layout with a subdir lacking the key column cannot apply a
    # scoped tombstone physically — compact must refuse loudly, never
    # re-stamp rows out from under the horizon
    path = tempfile.mkdtemp(prefix="up_carry_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    spark.createDataFrame([(1, 0)], "x long, commit long").write.partitionBy(
        "commit"
    ).parquet(f"{path}/extra")
    simsearch.upsert_ivf_index(spark, path, emb.where(F.col("vec_id") == 3))
    with pytest.raises(ValueError, match="horizon-scoped"):
        simsearch.compact_index(
            spark, path,
            simsearch.IVF_INDEX_SUBDIRS + [("extra", None)],
        )


def test_index_stats_tracks_lifecycle(spark, emb):
    path = tempfile.mkdtemp(prefix="up_stats_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    simsearch.delete_from_index(
        spark, path,
        spark.createDataFrame([(1,), (2,)], "vec_id long"),
        simsearch.IVF_INDEX_SUBDIRS,
    )
    got = {
        r.subdir: (r.n_commits, r.n_rows)
        for r in simsearch.index_stats(
            spark, path, simsearch.IVF_INDEX_SUBDIRS
        ).collect()
    }
    assert got == {"cells": (1, 40), "tombstones": (1, 2)}
    # compaction folds to one commit, scrubs the 2 deleted rows, and
    # consumes the tombstones; vacuum makes the stats reflect it
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    simsearch.vacuum_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    got2 = {
        r.subdir: (r.n_commits, r.n_rows)
        for r in simsearch.index_stats(
            spark, path, simsearch.IVF_INDEX_SUBDIRS
        ).collect()
    }
    assert got2 == {"cells": (1, 38)}


def test_pq_upsert_reencodes_under_frozen_model(spark, emb, queries):
    # upsert id 6 with the EXACT vector of id 9: under the frozen
    # quantizer+codebooks both must land in the same cell with the
    # same codes, so the probe scores them identically
    path = tempfile.mkdtemp(prefix="up_pq_")
    simsearch.write_pq_index(
        emb, path, n_centroids=4, m=4, ksub=8, store_vectors=True
    )
    donor = emb.where(F.col("vec_id") == 9).select(
        F.lit(6).cast("long").alias("vec_id"), "embedding"
    )
    simsearch.upsert_pq_index(spark, path, donor)
    res = simsearch.ivfpq_stored(spark, path, queries, k=40, nprobe=4)
    by_q = {(r.query_id, r.vec_id): r.cos for r in res.collect()}
    paired = 0
    for (q, v), cos in by_q.items():
        if v == 6:
            assert by_q.get((q, 9)) == cos
            paired += 1
    assert paired > 0
    # the refine sidecar serves exactly ONE vector row per id (the
    # superseded one is horizon-hidden) — and it is the new vector
    ref = simsearch.ivfpq_stored_refine(
        spark, path, None, queries, k=40, nprobe=4
    )
    rows = ref.where(F.col("vec_id").isin(6, 9)).collect()
    pairs = [(r.query_id, r.vec_id) for r in rows]
    assert len(pairs) == len(set(pairs))  # no duplicate rescores
    cos6 = {r.query_id: r.cos for r in rows if r.vec_id == 6}
    cos9 = {r.query_id: r.cos for r in rows if r.vec_id == 9}
    assert cos6 and all(cos6[q] == cos9[q] for q in cos6 if q in cos9)


def test_upsert_batch_replay_is_noop(spark, emb, queries):
    # crash window (b): the manifest landed but the streaming
    # checkpoint didn't — the replayed batch id must be skipped BEFORE
    # the tombstone write, or the replay would hide its own rows
    path = tempfile.mkdtemp(prefix="up_replay_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    one = _neg(emb.where(F.col("vec_id") == 5))
    assert simsearch.upsert_ivf_index(spark, path, one, batch_id=0) is not None
    pre = _rows(simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2))
    assert simsearch.upsert_ivf_index(spark, path, one, batch_id=0) is None
    assert pre == _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2)
    )


def test_streamed_upsert_equals_one_shot(spark, emb, queries, tmp_path):
    from agni_spark.streaming import ingest as streaming

    # poisoned build: ids % 4 == 1 negated; the change feed streams the
    # true vectors in >= 2 micro-batches via mode='upsert'
    poisoned = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 4 == 1,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    ).select("vec_id", "embedding")
    spath = str(tmp_path / "idx")
    simsearch.write_ivf_index(poisoned, spath, n_centroids=4)
    src = str(tmp_path / "src")
    emb.where(F.col("vec_id") % 4 == 1).repartition(2).write.parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, mode="upsert",
    )
    q.awaitTermination()
    got = _rows(simsearch.ivf_ann_stored(spark, spath, queries, k=8, nprobe=2))

    opath = str(tmp_path / "idx2")
    simsearch.write_ivf_index(poisoned, opath, n_centroids=4)
    simsearch.upsert_ivf_index(
        spark, opath, emb.where(F.col("vec_id") % 4 == 1)
    )
    assert got == _rows(
        simsearch.ivf_ann_stored(spark, opath, queries, k=8, nprobe=2)
    )


def test_graph_upsert_serves_new_vectors_once(spark, emb, queries, tmp_path):
    # upsert on the graph family (round 12): superseded node rows
    # vanish from the walk's scan (the id scores once, at its NEW
    # vector), old edges carry forward as routing, as_of pins the
    # pre-upsert snapshot, and compaction folds the horizon physically
    # with probe results unchanged.
    path = str(tmp_path / "g")
    simsearch.write_graph_index(emb, path, knn=4, n_buckets=4)
    pre = _rows(simsearch.graph_ann_stored(spark, path, queries, k=8, beam=8))
    # the id query 0 ranked FIRST moves far away (negated), and a
    # brand-new id 100 lands right on query 0's own vector — both
    # movements must show in the served top-8
    q0_first = next(r[1] for r in pre if r[0] == 0 and r[3] == 1)
    q0_vec = [
        float(x) for x in
        emb.where(F.col("vec_id") == 0).first().embedding
    ]
    ups = _neg(emb.where(F.col("vec_id") == q0_first)).unionByName(
        spark.createDataFrame(
            [(100, q0_vec)], "vec_id long, embedding array<float>"
        )
    )
    simsearch.upsert_graph_index(spark, path, ups)
    # the served node view: exactly one row per id, new vectors live
    h = simsearch.open_graph_index(spark, path)
    dup = h.nodes.groupBy("node").count().where(F.col("count") > 1).count()
    assert dup == 0
    new_vals = {
        int(r.node): [float(x) for x in r.ce]
        for r in h.nodes.where(F.col("node").isin(int(q0_first), 100))
        .collect()
    }
    want_vals = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in ups.collect()
    }
    assert new_vals == want_vals
    post = _rows(simsearch.graph_ann_stored(spark, path, queries, k=8,
                                            beam=8))
    post_q0 = {r[1] for r in post if r[0] == 0}
    assert 100 in post_q0          # the inserted id is served
    assert q0_first not in post_q0  # the replaced id moved out of top-8
    # as_of=0 reproduces the pre-upsert probe bit for bit
    h0 = simsearch.open_graph_index(spark, path, as_of=0)
    assert _rows(
        simsearch.graph_ann_stored(spark, h0, queries, k=8, beam=8)
    ) == pre
    # compaction applies the horizon physically: tombstones consumed,
    # one node row per id, probe results unchanged
    simsearch.compact_graph_index(spark, path)
    h2 = simsearch.open_graph_index(spark, path)
    assert h2.tombstones is None or h2.tombstones.count() == 0
    assert _rows(
        simsearch.graph_ann_stored(spark, path, queries, k=8, beam=8)
    ) == post


def test_graph_upsert_replayed_batch_skipped(spark, emb, queries, tmp_path):
    # the streaming replay contract: a second upsert carrying an
    # already-applied batch id is a no-op BEFORE any write — no new
    # commit, no doubled tombstone, probe unchanged
    path = str(tmp_path / "g")
    simsearch.write_graph_index(emb, path, knn=4, n_buckets=4)
    ups = _neg(emb.where(F.col("vec_id") % 9 == 0))
    c1 = simsearch.upsert_graph_index(spark, path, ups, batch_id=3)
    assert c1 == 1
    before = _rows(simsearch.graph_ann_stored(spark, path, queries, k=8,
                                              beam=8))
    assert simsearch.upsert_graph_index(spark, path, ups, batch_id=3) is None
    assert simsearch._committed(spark, path) == [0, 1]
    assert _rows(
        simsearch.graph_ann_stored(spark, path, queries, k=8, beam=8)
    ) == before


def test_graph_upsert_delete_wins(spark, emb, queries, tmp_path):
    # a global delete outranks a later upsert of the same id (max
    # horizon = INF) — same delete-wins contract as the other families
    path = str(tmp_path / "g")
    simsearch.write_graph_index(emb, path, knn=4, n_buckets=4)
    dead = emb.where(F.col("vec_id") % 7 == 3).select("vec_id")
    dead_ids = {int(r.vec_id) for r in dead.collect()}
    simsearch.delete_from_index(
        spark, path, dead, simsearch.GRAPH_INDEX_SUBDIRS
    )
    simsearch.upsert_graph_index(
        spark, path, _neg(emb.where(F.col("vec_id") % 7 == 3))
    )
    got = simsearch.graph_ann_stored(spark, path, queries, k=10,
                                     beam=8).collect()
    assert got and not {int(r.vec_id) for r in got} & dead_ids


def test_streamed_graph_upsert_equals_sequential_batch_upserts(
    spark, emb, queries, tmp_path
):
    # NSW upsert is ORDER-DEPENDENT (batch 2 links against batch 1's
    # replacements) — the streamed form must equal the same two
    # upserts applied sequentially via the batch API. Two pinned
    # micro-batches via sequential availableNow drains.
    from agni_spark.streaming import ingest as streaming

    poisoned = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 4 == 1,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    ).select("vec_id", "embedding")
    spath = str(tmp_path / "gidx")
    simsearch.write_graph_index(poisoned, spath, knn=4, n_buckets=4)
    src = str(tmp_path / "gsrc")
    b1 = emb.where(F.col("vec_id") % 8 == 1).select("vec_id", "embedding")
    b2 = emb.where(F.col("vec_id") % 8 == 5).select("vec_id", "embedding")
    b1.coalesce(1).write.parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "gckpt"),
        index_kind="graph", mode="upsert",
    )
    q.awaitTermination()
    b2.coalesce(1).write.mode("append").parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "gckpt"),
        index_kind="graph", mode="upsert",
    )
    q.awaitTermination()
    got = _rows(simsearch.graph_ann_stored(spark, spath, queries, k=8,
                                           beam=8))

    opath = str(tmp_path / "gidx2")
    simsearch.write_graph_index(poisoned, opath, knn=4, n_buckets=4)
    simsearch.upsert_graph_index(spark, opath, b1)
    simsearch.upsert_graph_index(spark, opath, b2)
    assert got == _rows(
        simsearch.graph_ann_stored(spark, opath, queries, k=8, beam=8)
    ) and len(got) > 0


def test_text_upsert_survivor_exact_stats_and_phrase(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha alpha delta"),
            (2, "beta beta beta"),
            (3, "gamma delta"),
        ],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="up_txt_")
    text.write_text_index(docs, path, n_buckets=4, positions=True)
    # replace doc 1, insert doc 9
    new = spark.createDataFrame(
        [(1, "epsilon alpha"), (9, "alpha beta alpha beta")],
        "doc_id long, text string",
    )
    text.upsert_text_index(spark, path, new)
    got = _rows(text.bm25_topk_indexed(spark, path, ["alpha", "beta"], k=10))
    docs_mod = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "epsilon alpha"),
            (2, "beta beta beta"),
            (3, "gamma delta"),
            (9, "alpha beta alpha beta"),
        ],
        "doc_id long, text string",
    )
    fresh = tempfile.mkdtemp(prefix="up_txt_fresh_")
    text.write_text_index(docs_mod, fresh, n_buckets=4)
    assert got == _rows(
        text.bm25_topk_indexed(spark, fresh, ["alpha", "beta"], k=10)
    )
    # the positional layer follows the upsert: doc 1's old phrase is
    # gone, doc 9's new phrase is served
    assert _rows(text.phrase_topk_indexed(spark, path, "alpha beta", k=10)) \
        == [(9, 2, 1), (0, 1, 2)]
    # physical cleanup parity
    simsearch.compact_index(spark, path, simsearch.TEXT_INDEX_SUBDIRS)
    simsearch.vacuum_index(spark, path, simsearch.TEXT_INDEX_SUBDIRS)
    assert got == _rows(
        text.bm25_topk_indexed(spark, path, ["alpha", "beta"], k=10)
    )
    assert _rows(text.phrase_topk_indexed(spark, path, "alpha beta", k=10)) \
        == [(9, 2, 1), (0, 1, 2)]

# --- IVF-SQ8 family (round 11) ---------------------------------------------


def test_sq8_append_equals_rebuild(spark, emb, queries):
    # build evens + append odds == a fresh full-corpus build with the
    # SAME frozen model (centroids + bounds) — append must not retrain
    path = tempfile.mkdtemp(prefix="sq8_app_")
    evens = emb.where(F.col("vec_id") % 2 == 0)
    simsearch.write_sq_index(evens, path, n_centroids=4)
    simsearch.append_sq_index(
        spark, path,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    got = _rows(simsearch.sq_ann_stored(spark, path, queries, k=8, nprobe=2))

    meta = spark.read.parquet(f"{path}/meta").first()
    fresh = tempfile.mkdtemp(prefix="sq8_fresh_")
    simsearch.write_sq_index(
        emb, fresh,
        centroids=spark.read.parquet(f"{path}/centroids"),
        bounds=(list(meta.lo), list(meta.hi)),
    )
    want = _rows(simsearch.sq_ann_stored(spark, fresh, queries, k=8,
                                         nprobe=2))
    assert got == want and len(got) > 0


def test_sq8_upsert_hides_old_rows_and_survives_compact(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="sq8_up_")
    simsearch.write_sq_index(emb, path, n_centroids=4)
    simsearch.upsert_sq_index(spark, path,
                              _neg(emb.where(F.col("vec_id") % 9 == 0)))
    before = _rows(simsearch.sq_ann_stored(spark, path, queries, k=8,
                                           nprobe=2))
    # each upserted id appears at most once across all commits served
    h = simsearch.open_sq_index(spark, path)
    from pyspark.sql import functions as SF
    served = simsearch._anti_tombstones(h.scan, h.tombstones)
    dup = (
        served.groupBy("vec_id").count().where(SF.col("count") > 1).count()
    )
    assert dup == 0
    # compaction folds the tombstone physically; results unchanged
    simsearch.compact_index(spark, path, simsearch.SQ_INDEX_SUBDIRS)
    assert _rows(simsearch.sq_ann_stored(spark, path, queries, k=8,
                                         nprobe=2)) == before


def test_sq8_delete_and_asof(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="sq8_del_")
    simsearch.write_sq_index(emb, path, n_centroids=4)
    pre = _rows(simsearch.sq_ann_stored(spark, path, queries, k=8, nprobe=2))
    victims = {int(r.vec_id) for r in
               emb.where(F.col("vec_id") % 5 == 0).collect()}
    simsearch.delete_from_index(
        spark, path, emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        simsearch.SQ_INDEX_SUBDIRS,
    )
    post = simsearch.sq_ann_stored(spark, path, queries, k=8, nprobe=2)
    assert not {int(r.vec_id) for r in post.collect()} & victims
    # as_of=0 serves the pre-delete snapshot
    h0 = simsearch.open_sq_index(spark, path, as_of=0)
    assert _rows(simsearch.sq_ann_stored(spark, h0, queries, k=8,
                                         nprobe=2)) == pre


def test_sq8_codes_in_byte_range_and_dpp(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="sq8_rng_")
    simsearch.write_sq_index(emb, path, n_centroids=4)
    codes = spark.read.parquet(f"{path}/codes")
    bad = codes.select(
        F.explode("codes").alias("c")
    ).where((F.col("c") < 0) | (F.col("c") > 255)).count()
    assert bad == 0
    out = simsearch.sq_ann_stored(spark, path, queries, k=5, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "FileScan" in l and "dynamicpruning" in l for l in plan.splitlines()
    )


def test_streamed_sq_upsert_equals_one_shot(spark, emb, queries, tmp_path):
    # the SQ family rides the same CDC wrapper: streamed upserts in
    # >= 2 micro-batches equal one batch upsert of the same rows
    from agni_spark.streaming import ingest as streaming

    poisoned = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 4 == 1,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    ).select("vec_id", "embedding")
    spath = str(tmp_path / "sqidx")
    simsearch.write_sq_index(poisoned, spath, n_centroids=4)
    src = str(tmp_path / "sqsrc")
    emb.where(F.col("vec_id") % 4 == 1).repartition(2).write.parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "sqckpt"),
        max_files_per_trigger=1, index_kind="sq", mode="upsert",
    )
    q.awaitTermination()
    got = _rows(simsearch.sq_ann_stored(spark, spath, queries, k=8, nprobe=2))

    opath = str(tmp_path / "sqidx2")
    simsearch.write_sq_index(poisoned, opath, n_centroids=4)
    simsearch.upsert_sq_index(
        spark, opath, emb.where(F.col("vec_id") % 4 == 1)
    )
    assert got == _rows(
        simsearch.sq_ann_stored(spark, opath, queries, k=8, nprobe=2)
    ) and len(got) > 0


def test_sq8_trimmed_bounds_survive_outlier(spark):
    """sq8_bounds is quantile-trimmed (round 12): with raw min/max
    bounds a SINGLE outlier vector stretches one dimension's range
    ~100x and collapses its 255-step resolution for the whole corpus;
    trimmed bounds ignore the tail (the outlier itself clamps to the
    range edge) and recall@k on the inlier corpus stays where it was
    without the outlier."""
    import tempfile

    n, dim = 1500, 8
    rows = []
    for i in range(n):
        c = i % 4
        v = [0.05 * ((i * 7 + d) % 5) for d in range(dim)]
        v[c * 2] += 4.0
        rows.append((i, [float(x) for x in v]))
    rows.append((99999, [1000.0] * dim))  # the outlier stretches EVERY dim
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    qs = corpus.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.cosine_topk(corpus, qs, k=8)

    def mean_recall(bounds):
        path = tempfile.mkdtemp(prefix="sq8_out_")
        simsearch.write_sq_index(corpus, path, n_centroids=4, bounds=bounds)
        got = simsearch.sq_ann_stored(spark, path, qs, k=8, nprobe=4)
        r = simsearch.recall_at_k(got, exact, k=8)
        return float(r.agg(F.avg("recall")).first()[0])

    trimmed = mean_recall(simsearch.sq8_bounds(corpus))         # 0.001/0.999
    minmax = mean_recall(simsearch.sq8_bounds(corpus, trim=0.0))
    assert trimmed > minmax  # the outlier degraded the min/max build
    assert trimmed >= 0.9    # and the trimmed build is unharmed by it


def test_sq8_filtered_probe_restricts_candidates(spark, emb, queries):
    # allowed= is post-filter semantics on the SQ8 probe, same as the
    # IVF family: every returned id is in the allow-set
    path = tempfile.mkdtemp(prefix="sq8_filt_")
    simsearch.write_sq_index(emb, path, n_centroids=4)
    allowed = emb.where(F.col("vec_id") % 3 == 0).select("vec_id")
    out = simsearch.sq_ann_stored(
        spark, path, queries, k=8, nprobe=2, allowed=allowed
    ).collect()
    assert out and all(int(r.vec_id) % 3 == 0 for r in out)


def test_rebucket_text_index_resizes_and_matches_fresh_build(spark, tmp_path):
    # the text family's reindex: rebucket from 16 -> 4 WITHOUT the
    # original docs (posting rows are bucket-routed, not derived);
    # pending doc tombstones apply physically; probe-identical to the
    # source and physically identical to a fresh 4-bucket build over
    # the surviving corpus
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha alpha beta"),
            (2, "beta beta gamma epsilon"),
            (3, "gamma delta delta"),
            (4, "epsilon alpha gamma"),
            (5, "delta beta alpha"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "t16")
    text.write_text_index(docs, src, n_buckets=16, positions=True)
    simsearch.delete_from_index(
        spark, src, docs.where(F.col("doc_id") == 2).select("doc_id"),
        simsearch.TEXT_INDEX_SUBDIRS, id_col="doc_id",
    )
    want_bm = _rows(text.bm25_topk_indexed(spark, src,
                                           ["alpha", "gamma"], k=10))
    want_ph = _rows(text.phrase_topk_indexed(spark, src, "alpha beta", k=10))

    dst = str(tmp_path / "t4")
    text.rebucket_text_index(spark, src, dst, n_buckets=4)
    h = text.open_text_index(spark, dst)
    assert h.n_buckets == 4
    assert h.tombstones is None  # applied physically, not carried
    assert want_bm == _rows(
        text.bm25_topk_indexed(spark, h, ["alpha", "gamma"], k=10)
    )
    assert want_ph == _rows(text.phrase_topk_indexed(spark, h,
                                                     "alpha beta", k=10))
    # physically identical to a fresh 4-bucket build over the survivors
    fresh = str(tmp_path / "tf4")
    text.write_text_index(
        docs.where(F.col("doc_id") != 2), fresh, n_buckets=4,
        positions=True,
    )
    for sub in ("postings", "doclens", "positions"):
        # compare by field NAME (physical column order in the parquet
        # differs between the fold and a fresh build; readers are
        # by-name)
        a = sorted(
            tuple(sorted(r.asDict().items())) for r in
            spark.read.parquet(f"{dst}/{sub}").drop("commit").collect()
        )
        b = sorted(
            tuple(sorted(r.asDict().items())) for r in
            spark.read.parquet(f"{fresh}/{sub}").drop("commit").collect()
        )
        assert a == b, sub


def test_quantization_error_reads_drift(spark):
    # the drift metrics on an IRREGULAR corpus (the clustered fixture
    # has only 5 distinct jitter patterns — 8 codewords reconstruct it
    # exactly and every error reads 0): a fresh SQ8 build reads the
    # half-step floor; far-out upserts against the frozen bounds clamp
    # and push mean/max up; PQ's fresh floor sits well above SQ8's
    # (m*log2(ksub) bits/vector vs 8 bits/dim).
    rows = [
        (i, [((i * 2654435761 + d * 97) % 1000) / 250.0 for d in range(8)])
        for i in range(200)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    spath = tempfile.mkdtemp(prefix="qe_sq_")
    simsearch.write_sq_index(corpus, spath, n_centroids=4)
    fresh = simsearch.sq8_quantization_error(spark, spath, corpus).first()
    assert fresh.n == 200
    assert 0.0 < fresh.mean_err < 0.01  # near the half-step floor

    scaled = F.transform("embedding", lambda x: x * F.lit(3.0))
    simsearch.upsert_sq_index(
        spark, spath,
        corpus.where(F.col("vec_id") % 5 == 0).select(
            "vec_id", scaled.alias("embedding")
        ),
    )
    corpus2 = corpus.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 == 0, scaled)
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    after = simsearch.sq8_quantization_error(spark, spath, corpus2).first()
    assert after.n == 200
    assert after.mean_err > fresh.mean_err
    assert after.max_err > fresh.max_err

    ppath = tempfile.mkdtemp(prefix="qe_pq_")
    simsearch.write_pq_index(corpus, ppath, n_centroids=4, m=4, ksub=8)
    pq = simsearch.pq_reconstruction_error(spark, ppath, corpus).first()
    assert pq.n == 200
    assert pq.mean_err > fresh.mean_err  # PQ floor above SQ8's
    assert pq.max_err <= 2.0


# --- IVF-BQ (1-bit) family (round 12) --------------------------------------


def _bq_rows(df):
    return [tuple(r) for r in df.collect()]


def test_bq_append_equals_rebuild(spark, emb, queries):
    # build evens + append odds == a fresh full-corpus build with the
    # SAME frozen model (centroids + thresholds) — append never retrains
    path = tempfile.mkdtemp(prefix="bq_app_")
    simsearch.write_bq_index(
        emb.where(F.col("vec_id") % 2 == 0), path, n_centroids=4
    )
    simsearch.append_bq_index(
        spark, path,
        emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
    )
    got = _bq_rows(simsearch.bq_ann_stored(spark, path, queries, k=8,
                                           nprobe=2))
    thr = list(spark.read.parquet(f"{path}/meta").first().thr)
    fresh = tempfile.mkdtemp(prefix="bq_fresh_")
    simsearch.write_bq_index(
        emb, fresh,
        centroids=spark.read.parquet(f"{path}/centroids"),
        thresholds=thr,
    )
    want = _bq_rows(simsearch.bq_ann_stored(spark, fresh, queries, k=8,
                                            nprobe=2))
    assert got == want and len(got) > 0


def test_bq_upsert_delete_asof_compact(spark, emb, queries):
    # the full lifecycle on the generic machinery: upsert hides old
    # rows, as_of pins the pre-upsert snapshot, delete excludes,
    # compaction folds physically with the probe unchanged
    path = tempfile.mkdtemp(prefix="bq_life_")
    simsearch.write_bq_index(emb, path, n_centroids=4)
    pre = _bq_rows(simsearch.bq_ann_stored(spark, path, queries, k=8,
                                           nprobe=2))
    simsearch.upsert_bq_index(spark, path,
                              _neg(emb.where(F.col("vec_id") % 9 == 0)))
    h = simsearch.open_bq_index(spark, path)
    served = simsearch._anti_tombstones(h.scan, h.tombstones)
    assert served.groupBy("vec_id").count().where(
        F.col("count") > 1
    ).count() == 0
    h0 = simsearch.open_bq_index(spark, path, as_of=0)
    assert _bq_rows(
        simsearch.bq_ann_stored(spark, h0, queries, k=8, nprobe=2)
    ) == pre
    dead = emb.where(F.col("vec_id") % 5 == 0).select("vec_id")
    dead_ids = {int(r.vec_id) for r in dead.collect()}
    simsearch.delete_from_index(spark, path, dead,
                                simsearch.BQ_INDEX_SUBDIRS)
    post = simsearch.bq_ann_stored(spark, path, queries, k=8, nprobe=2)
    got = _bq_rows(post)
    assert got and not {r[1] for r in got} & dead_ids
    simsearch.compact_index(spark, path, simsearch.BQ_INDEX_SUBDIRS)
    assert _bq_rows(
        simsearch.bq_ann_stored(spark, path, queries, k=8, nprobe=2)
    ) == got
    # physically scrubbed once vacuum reclaims the superseded commit
    # dirs (the compacted commit itself holds no deleted rows)
    simsearch.vacuum_index(spark, path, simsearch.BQ_INDEX_SUBDIRS)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.where(F.col("vec_id").isin(list(dead_ids))).count() == 0


def test_bq_clone_and_streamed_upsert(spark, emb, queries, tmp_path):
    # clone is probe-identical; the CDC stream converges a poisoned
    # build to the batch-upsert state
    from agni_spark.streaming import ingest as streaming

    poisoned = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 4 == 1,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    ).select("vec_id", "embedding")
    spath = str(tmp_path / "bqidx")
    simsearch.write_bq_index(poisoned, spath, n_centroids=4)
    src = str(tmp_path / "bqsrc")
    emb.where(F.col("vec_id") % 4 == 1).repartition(2).write.parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "bqckpt"),
        max_files_per_trigger=1, index_kind="bq", mode="upsert",
    )
    q.awaitTermination()
    got = _bq_rows(simsearch.bq_ann_stored(spark, spath, queries, k=8,
                                           nprobe=2))
    opath = str(tmp_path / "bqidx2")
    simsearch.write_bq_index(poisoned, opath, n_centroids=4)
    simsearch.upsert_bq_index(
        spark, opath, emb.where(F.col("vec_id") % 4 == 1)
    )
    assert got == _bq_rows(
        simsearch.bq_ann_stored(spark, opath, queries, k=8, nprobe=2)
    ) and len(got) > 0
    cpath = str(tmp_path / "bqclone")
    simsearch.clone_bq_index(spark, spath, cpath)
    assert got == _bq_rows(
        simsearch.bq_ann_stored(spark, cpath, queries, k=8, nprobe=2)
    )


def test_bq_filtered_probe_restricts_candidates(spark, emb, queries):
    # allowed= is post-filter semantics on the BQ probe, same contract
    # as every sibling family: every returned id is in the allow-set
    path = tempfile.mkdtemp(prefix="bq_filt_")
    simsearch.write_bq_index(emb, path, n_centroids=4)
    allowed = emb.where(F.col("vec_id") % 3 == 0).select("vec_id")
    out = simsearch.bq_ann_stored(
        spark, path, queries, k=8, nprobe=2, allowed=allowed
    ).collect()
    assert out and all(int(r.vec_id) % 3 == 0 for r in out)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(-8, 8, allow_nan=False, width=32),
            min_size=40, max_size=40,
        ),
        min_size=4, max_size=10,
    )
)
def test_bq_pack_score_property(spark, vecs):
    # property: for ANY float vectors (dim 40 — crosses the 32-bit
    # word boundary, exercising both words incl. bit 31), the packed
    # words + the fold-based asymmetric score equal a direct python
    # reference computed from the same float32 values and thresholds
    import math
    import struct

    f32 = lambda v: struct.unpack("f", struct.pack("f", v))[0]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    thr = simsearch.bq_thresholds(df)
    got = df.select(
        "vec_id",
        simsearch._bq_words(F.col("embedding"), thr).alias("words"),
        F.round(
            simsearch._bq_score(
                F.col("embedding"), simsearch._bq_words(F.col("embedding"), thr),
                len(thr),
            ),
            6,
        ).alias("self_score"),
    ).collect()
    for r in got:
        v = [f32(x) for x in vecs[r.vec_id]]
        bits = [1 if v[i] > thr[i] else 0 for i in range(40)]
        words = [
            sum(bits[j * 32 + i] << i for i in range(min(32, 40 - j * 32)))
            for j in range(2)
        ]
        assert list(r.words) == words
        ref = sum(v[i] * (2.0 * bits[i] - 1.0) for i in range(40))
        assert abs(r.self_score - round(ref, 6)) < 2e-6


# --- OCC concurrent-writer commit protocol (round 13) ----------------------


def _claim_files(path):
    import os

    return sorted(
        n for n in os.listdir(f"{path}/manifest")
        if n.startswith(".claim-")
    )


def test_occ_concurrent_appends_both_land(spark, emb, queries, monkeypatch):
    """Two independent appends race on one index: writer A stages under
    its claimed id, writer B commits inside A's read-to-CAS window. A's
    manifest CAS loses, retries internally (renumbering its staged
    commit ABOVE B's), and lands — both writers' rows served with no
    manual re-run, no cross-contaminated commit dirs, claims
    released."""
    path = tempfile.mkdtemp(prefix="occ_app_") + "/idx"
    base = emb.where(F.col("vec_id") < 20)
    a_new = emb.where(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 30)
    ).select("vec_id", "embedding")
    b_new = emb.where(F.col("vec_id") >= 30).select("vec_id", "embedding")
    simsearch.write_ivf_index(base, path, n_centroids=4)
    real = simsearch._write_index_manifest
    fired = {"done": False}

    def racy(s, p, commits, bids=None, expected_version=None,
             applied=None):
        if not fired["done"] and expected_version is not None:
            fired["done"] = True
            simsearch.append_ivf_index(s, p, b_new)  # the racer wins
        return real(s, p, commits, bids, expected_version,
                    applied=applied)

    monkeypatch.setattr(simsearch, "_write_index_manifest", racy)
    simsearch.append_ivf_index(spark, path, a_new)
    monkeypatch.undo()
    # A claimed 1 first, B claimed 2 and committed first, A renumbered
    # to 3: monotone ids, both appends committed, claims all released
    assert simsearch._committed(spark, path) == [0, 2, 3]
    assert _claim_files(path) == []
    cells = spark.read.parquet(f"{path}/cells")
    got3 = sorted(r.vec_id for r in cells.where("commit = 3").collect())
    got2 = sorted(r.vec_id for r in cells.where("commit = 2").collect())
    assert got3 == sorted(r.vec_id for r in a_new.collect())
    assert got2 == sorted(r.vec_id for r in b_new.collect())
    # the probe serves the union == a fresh frozen-model full build
    got = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    )
    fresh = tempfile.mkdtemp(prefix="occ_fresh_")
    simsearch.write_ivf_index(
        emb, fresh, centroids=spark.read.parquet(f"{path}/centroids")
    )
    want = _rows(
        simsearch.ivf_ann_stored(spark, fresh, queries, k=8, nprobe=4)
    )
    assert got == want and len(got) > 0


def test_occ_concurrent_upserts_last_writer_wins(
    spark, emb, queries, monkeypatch
):
    """Two upserts of the SAME key race: the loser renumbers above the
    winner and its REWRITTEN horizon hides the winner's replacement —
    last-writer-wins by commit id, exactly one live row per key."""
    path = tempfile.mkdtemp(prefix="occ_ups_") + "/idx"
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    key = emb.where(F.col("vec_id") == 5).select("vec_id", "embedding")
    a_new = _neg(key)
    # B's replacement: id 6's vector relabeled to key 5 (stays float)
    b_new = emb.where(F.col("vec_id") == 6).select(
        F.lit(5).cast("long").alias("vec_id"), "embedding"
    )
    real = simsearch._write_index_manifest
    fired = {"done": False}

    def racy(s, p, commits, bids=None, expected_version=None,
             applied=None):
        if not fired["done"] and expected_version is not None:
            fired["done"] = True
            simsearch.upsert_ivf_index(s, p, b_new)
        return real(s, p, commits, bids, expected_version,
                    applied=applied)

    monkeypatch.setattr(simsearch, "_write_index_manifest", racy)
    final = simsearch.upsert_ivf_index(spark, path, a_new)
    monkeypatch.undo()
    assert final == 3  # renumbered above the winner's 2
    assert simsearch._committed(spark, path) == [0, 2, 3]
    h = simsearch.open_ivf_index(spark, path)
    live = simsearch._anti_tombstones(h.scan, h.tombstones)
    row = live.where("vec_id = 5").collect()
    assert len(row) == 1
    got = [round(float(x), 4) for x in row[0].ce]
    want = [round(-float(x), 4) for x in key.first().embedding]
    assert got == want  # A's replacement serves, B's is hidden
    tomb = spark.read.parquet(f"{path}/tombstones")
    assert sorted((r.commit, r.horizon) for r in tomb.collect()) == [
        (2, 2), (3, 3),  # the loser's horizon FOLLOWED its renumbering
    ]


def test_cas_gate_refuses_unsafe_store(spark, emb, monkeypatch):
    """A store whose create-no-overwrite is not a CAS (the old-s3a
    HEAD-check shape) is REFUSED instead of silently double-committing;
    the documented config overrides restore access."""
    path = tempfile.mkdtemp(prefix="occ_gate_") + "/idx"
    monkeypatch.setattr(simsearch, "_cas_capable", lambda *a: False)
    with pytest.raises(simsearch.ManifestUnsafeStoreError):
        simsearch.write_ivf_index(
            emb.where(F.col("vec_id") < 20), path, n_centroids=4
        )
    spark.conf.set("spark.agni.manifest.singleWriter", "true")
    try:
        simsearch.write_ivf_index(
            emb.where(F.col("vec_id") < 20), path, n_centroids=4
        )
        assert simsearch._committed(spark, path) == [0]
    finally:
        spark.conf.unset("spark.agni.manifest.singleWriter")
    spark.conf.set("spark.agni.manifest.casCapable", "true")
    try:
        simsearch.append_ivf_index(
            spark, path,
            emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding"),
        )
        assert simsearch._committed(spark, path) == [0, 1]
    finally:
        spark.conf.unset("spark.agni.manifest.casCapable")


def test_vacuum_spares_claimed_staging(spark, emb):
    """Default vacuum must not destroy an in-flight writer's claimed
    staging (the round-12 vacuum-during-append race, now closed);
    reclaim_claims=True is the explicit crashed-writer cleanup."""
    import os

    path = tempfile.mkdtemp(prefix="occ_vac_") + "/idx"
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    _, rows = simsearch._resolve_manifest(spark, path)
    nxt = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    (
        emb.limit(4).select("vec_id", F.col("embedding").alias("ce"))
        .withColumn("centroid_id", F.lit(0))
        .withColumn("commit", F.lit(nxt).cast("long"))
        .write.partitionBy("commit", "centroid_id")
        .mode("append")
        .parquet(f"{path}/cells")
    )
    removed = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS
    )
    assert not any(f"commit={nxt}" in r for r in removed)
    assert os.path.exists(f"{path}/cells/commit={nxt}")
    assert _claim_files(path) == [f".claim-{nxt}"]
    removed = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, reclaim_claims=True
    )
    assert f"cells/commit={nxt}" in removed
    assert _claim_files(path) == []
    assert simsearch._committed(spark, path) == [0]


def test_streaming_replay_adopts_crashed_claim(spark, emb):
    """A crashed streaming append left .claim-N plus partial staging;
    the replay of the SAME micro-batch adopts the claim (same commit
    id — the replay contract), clears the partial files, and commits
    exactly once."""
    path = tempfile.mkdtemp(prefix="occ_adopt_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    new = emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding")
    _, rows = simsearch._resolve_manifest(spark, path)
    crashed = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS, batch_id=7
    )
    (
        new.limit(2).select("vec_id", F.col("embedding").alias("ce"))
        .withColumn("centroid_id", F.lit(0))
        .withColumn("commit", F.lit(crashed).cast("long"))
        .write.partitionBy("commit", "centroid_id")
        .mode("append")
        .parquet(f"{path}/cells")
    )
    simsearch.append_ivf_index(spark, path, new, batch_id=7)
    assert simsearch._committed(spark, path) == [0, crashed]
    got = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells")
        .where(F.col("commit") == crashed)
        .collect()
    )
    assert got == sorted(r.vec_id for r in new.collect())
    simsearch.append_ivf_index(spark, path, new, batch_id=7)  # replay
    assert simsearch._committed(spark, path) == [0, crashed]
    assert _claim_files(path) == []


def test_compact_retries_once_on_concurrent_append_and_succeeds(
    spark, emb, monkeypatch
):
    """Round-12 hole: a compact landing after a concurrent append
    silently DROPPED the append's commit from the manifest. The swap
    is anchored to the version the fold read, so the racing attempt
    conflicts — and since round 14 compact_index recomputes ONCE
    against the fresh manifest instead of surfacing, so compaction
    coexists with steady appends: the retry's fold contains the
    racer's rows and nothing is lost."""
    path = tempfile.mkdtemp(prefix="occ_cmp_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    mid = emb.where(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 30)
    ).select("vec_id", "embedding")
    late = emb.where(F.col("vec_id") >= 30).select("vec_id", "embedding")
    simsearch.append_ivf_index(spark, path, mid)
    real = simsearch._write_index_manifest
    fired = {"done": False}

    def racy(s, p, commits, bids=None, expected_version=None,
             applied=None):
        if not fired["done"] and expected_version is not None:
            fired["done"] = True
            simsearch.append_ivf_index(s, p, late)  # the racer
        return real(s, p, commits, bids, expected_version,
                    applied=applied)

    monkeypatch.setattr(simsearch, "_write_index_manifest", racy)
    n = simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    monkeypatch.undo()
    assert simsearch._committed(spark, path) == [n]
    assert _claim_files(path) == []
    served = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells")
        .where(F.col("commit") == n)
        .collect()
    )
    assert served == sorted(r.vec_id for r in emb.collect())


def test_compact_aborts_after_second_conflict_without_losing_appends(
    spark, emb, monkeypatch
):
    """Sustained append traffic that outruns BOTH compact attempts:
    the second loss surfaces ManifestConflictError (compaction still
    refuses to merge histories), every racer append stays committed,
    all claims are released, and a quiet re-run folds everything."""
    path = tempfile.mkdtemp(prefix="occ_cmp2_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    mid = emb.where(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 30)
    ).select("vec_id", "embedding")
    late = emb.where(F.col("vec_id") >= 30).select("vec_id", "embedding")
    simsearch.append_ivf_index(spark, path, mid)
    real = simsearch._write_index_manifest
    state = {"fired": 0}

    def racy(s, p, commits, bids=None, expected_version=None,
             applied=None):
        # compact's own swap writes a SINGLE-commit list; the racer
        # appends write longer ones (no recursion on their commits)
        if len(commits) == 1 and state["fired"] < 2 and (
            expected_version is not None
        ):
            state["fired"] += 1
            simsearch.append_ivf_index(s, p, late)
        return real(s, p, commits, bids, expected_version,
                    applied=applied)

    monkeypatch.setattr(simsearch, "_write_index_manifest", racy)
    with pytest.raises(simsearch.ManifestConflictError):
        simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    monkeypatch.undo()
    assert state["fired"] == 2
    committed = simsearch._committed(spark, path)
    assert len(committed) == 4  # base + mid + both racer appends
    assert _claim_files(path) == []
    n = simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    assert simsearch._committed(spark, path) == [n]


def test_occ_concurrent_graph_appends_renumber_meta(
    spark, emb, queries, monkeypatch
):
    """Graph-family OCC: the renumber path must move ALL THREE staged
    subdirs (edges, nodes, versioned meta) to the new id, and the walk
    over the settled index must serve every node. Writer A stages its
    NSW insertion, writer B appends+commits in A's window; A renumbers
    and retries. Link semantics stay the documented concurrent-append
    approximation: each racer linked only against the nodes committed
    when it READ, so both batches' nodes are reachable via their own
    forward+reverse links to the base."""
    import os

    path = tempfile.mkdtemp(prefix="occ_gr_") + "/idx"
    base = emb.where(F.col("vec_id") < 20)
    a_new = emb.where(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 30)
    ).select("vec_id", "embedding")
    b_new = emb.where(F.col("vec_id") >= 30).select("vec_id", "embedding")
    simsearch.write_graph_index(base, path, knn=5)
    real = simsearch._write_index_manifest
    fired = {"done": False}

    def racy(s, p, commits, bids=None, expected_version=None,
             applied=None):
        if not fired["done"] and expected_version is not None:
            fired["done"] = True
            simsearch.append_graph_index(s, p, b_new)
        return real(s, p, commits, bids, expected_version,
                    applied=applied)

    monkeypatch.setattr(simsearch, "_write_index_manifest", racy)
    simsearch.append_graph_index(spark, path, a_new)
    monkeypatch.undo()
    assert simsearch._committed(spark, path) == [0, 2, 3]
    assert _claim_files(path) == []
    # every staged subdir followed the renumbering: A's nodes, edges,
    # and versioned meta all live under commit=3 (nothing left at 1)
    for sub in ("nodes", "edges", "meta"):
        assert os.path.exists(f"{path}/{sub}/commit=3")
        assert not os.path.exists(f"{path}/{sub}/commit=1")
    nodes = spark.read.parquet(f"{path}/nodes")
    assert sorted(
        r.node for r in nodes.where("commit = 3").collect()
    ) == sorted(r.vec_id for r in a_new.collect())
    # the walk over the settled index reaches BOTH racers' nodes (the
    # reverse links each insertion wrote into the base keep them
    # navigable), and the resolved meta is the max-commit writer's
    h = simsearch.open_graph_index(spark, path)
    served = simsearch.graph_ann_stored(
        spark, h, queries, k=30, beam=12, hops=4
    )
    got_ids = {r.vec_id for r in served.collect()}
    assert any(v >= 20 and v < 30 for v in got_ids)  # A's batch
    assert any(v >= 30 for v in got_ids)             # B's batch


def test_occ_concurrent_delete_and_append(spark, emb, monkeypatch):
    """A tombstone DELETE racing an append: the delete stages only a
    tombstones/commit dir (renamed-only renumber path — global NULL
    horizons are id-independent) and must land alongside the racer's
    append; the served set is (base + appended) minus deleted."""
    path = tempfile.mkdtemp(prefix="occ_del_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    new = emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding")
    dead = emb.where(F.col("vec_id") % 4 == 0).select("vec_id")
    real = simsearch._write_index_manifest
    fired = {"done": False}

    def racy(s, p, commits, bids=None, expected_version=None,
             applied=None):
        if not fired["done"] and expected_version is not None:
            fired["done"] = True
            simsearch.append_ivf_index(s, p, new)
        return real(s, p, commits, bids, expected_version,
                    applied=applied)

    monkeypatch.setattr(simsearch, "_write_index_manifest", racy)
    final = simsearch.delete_from_index(
        spark, path, dead, simsearch.IVF_INDEX_SUBDIRS
    )
    monkeypatch.undo()
    assert final == 3 and simsearch._committed(spark, path) == [0, 2, 3]
    h = simsearch.open_ivf_index(spark, path)
    live = simsearch._anti_tombstones(h.scan, h.tombstones)
    got = sorted(r.vec_id for r in live.collect())
    want = sorted(
        r.vec_id for r in emb.where(F.col("vec_id") % 4 != 0).collect()
    )
    assert got == want  # delete applies across BOTH racers' commits


def test_bq_code_balance_drifts_under_frozen_thresholds(spark, emb):
    """The BQ drift metric's direction: a fresh build's per-dim bit
    balance sits near 0.5 (bias ~0); negating a slice under the FROZEN
    thresholds skews it. The ops loop reads mean_bias to decide
    reindex_bq."""
    path = tempfile.mkdtemp(prefix="bq_bal_")
    simsearch.write_bq_index(emb, path, n_centroids=4)
    fresh = simsearch.bq_code_balance(spark, path).first()
    assert fresh.n_dims == 8
    simsearch.upsert_bq_index(spark, path, _neg(emb.where(
        F.col("vec_id") % 2 == 0
    )))
    drifted = simsearch.bq_code_balance(spark, path).first()
    assert drifted.mean_bias >= fresh.mean_bias
    assert drifted.max_bias > fresh.max_bias


def test_index_stats_surfaces_live_claims(spark, emb):
    """index_stats shows an in-flight/crashed claim as a `claims` row
    (the one non-committed state an operator must see) and drops it
    once released — committed claims never count."""
    path = tempfile.mkdtemp(prefix="occ_stats_") + "/idx"
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    base = {r.subdir for r in simsearch.index_stats(
        spark, path, simsearch.IVF_INDEX_SUBDIRS).collect()}
    assert "claims" not in base
    _, rows = simsearch._resolve_manifest(spark, path)
    nxt = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    got = {r.subdir: (r.n_commits, r.n_rows) for r in simsearch.index_stats(
        spark, path, simsearch.IVF_INDEX_SUBDIRS).collect()}
    assert got["claims"] == (1, 0)
    simsearch._release_claim(spark, path, nxt)
    after = {r.subdir for r in simsearch.index_stats(
        spark, path, simsearch.IVF_INDEX_SUBDIRS).collect()}
    assert "claims" not in after


def test_per_app_replay_watermarks_two_writers(spark, emb):
    """Two applications (the Delta txn appId idiom) maintain ONE index
    with OVERLAPPING micro-batch id ranges: each app's replay check is
    scoped to its own watermark (a global max would skip the second
    app's low ids), replays of either app stay exactly-once, the
    legacy default writer keeps its own independent watermark, and
    compaction carries the whole map."""
    path = tempfile.mkdtemp(prefix="occ_app2_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 10), path, n_centroids=4
    )
    sl = lambda lo, hi: emb.where(  # noqa: E731
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    ).select("vec_id", "embedding")
    simsearch.append_ivf_index(spark, path, sl(10, 15), batch_id=0,
                               app_id="app-a")
    simsearch.append_ivf_index(spark, path, sl(15, 20), batch_id=1,
                               app_id="app-a")
    # app-b starts at batch 0 — BELOW app-a's watermark; must land
    simsearch.append_ivf_index(spark, path, sl(20, 25), batch_id=0,
                               app_id="app-b")
    simsearch.append_ivf_index(spark, path, sl(25, 30), batch_id=1,
                               app_id="app-b")
    # the legacy default writer has its own watermark too
    simsearch.append_ivf_index(spark, path, sl(30, 35), batch_id=0)
    assert simsearch._committed(spark, path) == [0, 1, 2, 3, 4, 5]
    # replays of every app are no-ops
    simsearch.append_ivf_index(spark, path, sl(10, 15), batch_id=1,
                               app_id="app-a")
    simsearch.append_ivf_index(spark, path, sl(20, 25), batch_id=0,
                               app_id="app-b")
    simsearch.append_ivf_index(spark, path, sl(30, 35), batch_id=0)
    assert simsearch._committed(spark, path) == [0, 1, 2, 3, 4, 5]
    # compaction carries the per-app map: replays still skip after it
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    n = simsearch._committed(spark, path)
    assert len(n) == 1
    simsearch.append_ivf_index(spark, path, sl(10, 15), batch_id=1,
                               app_id="app-a")
    simsearch.append_ivf_index(spark, path, sl(25, 30), batch_id=1,
                               app_id="app-b")
    assert simsearch._committed(spark, path) == n
    # a genuinely new batch of either app lands
    simsearch.append_ivf_index(spark, path, sl(35, 40), batch_id=2,
                               app_id="app-b")
    assert len(simsearch._committed(spark, path)) == 2
    served = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells")
        .where(F.col("commit").isin(simsearch._committed(spark, path)))
        .collect()
    )
    assert served == sorted(r.vec_id for r in emb.collect())


def test_occ_retry_bounded_and_releases_claim(spark, emb, monkeypatch):
    """When every CAS attempt loses (pathological sustained contention),
    the retry surfaces ManifestConflictError after _OCC_MAX_ATTEMPTS and
    releases the claim so the staged debris is default-vacuumable."""
    path = tempfile.mkdtemp(prefix="occ_bound_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    new = emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding")
    calls = {"n": 0}

    def always_conflict(*a, **k):
        calls["n"] += 1
        raise simsearch.ManifestConflictError("induced")

    monkeypatch.setattr(simsearch, "_write_index_manifest", always_conflict)
    with pytest.raises(simsearch.ManifestConflictError):
        simsearch.append_ivf_index(spark, path, new)
    monkeypatch.undo()
    assert calls["n"] == simsearch._OCC_MAX_ATTEMPTS
    assert _claim_files(path) == []  # released on terminal failure
    # the staged commit is unreferenced debris: default vacuum reclaims
    removed = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS
    )
    assert any(r.startswith("cells/commit=") for r in removed)
    assert simsearch._committed(spark, path) == [0]


def test_vacuum_dry_run_reports_without_deleting(spark, emb):
    """vacuum_index(dry_run=True) lists exactly what the real pass
    would remove and touches nothing — the preflight for
    reclaim_claims."""
    import os

    path = tempfile.mkdtemp(prefix="occ_dry_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    simsearch.append_ivf_index(
        spark, path, emb.where(F.col("vec_id") >= 20).select(
            "vec_id", "embedding"
        )
    )
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    would = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, dry_run=True
    )
    assert any(r.startswith("cells/commit=") for r in would)
    for r in would:
        if not r.startswith("manifest/"):
            assert os.path.exists(f"{path}/{r}")  # nothing deleted
    did = simsearch.vacuum_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    assert did == would  # the report was exact
    for r in did:
        assert not os.path.exists(f"{path}/{r}")


_SEAM_FAMILIES = {
    "ivf": (simsearch.write_ivf_index, simsearch.IVF_INDEX_SUBDIRS, "cells"),
    "sq": (simsearch.write_sq_index, simsearch.SQ_INDEX_SUBDIRS, "codes"),
    "bq": (simsearch.write_bq_index, simsearch.BQ_INDEX_SUBDIRS, "codes"),
    "pq": (
        functools.partial(simsearch.write_pq_index, m=4, ksub=8),
        simsearch.PQ_INDEX_SUBDIRS, "codes",
    ),
}


@pytest.mark.parametrize("kind", [
    "ivf", "sq", "bq", "pq",
    "ivf-upsert", "sq-upsert", "bq-upsert", "pq-upsert",
])
def test_two_apps_same_batch_id_never_cross_adopt_live_claim(
    spark, emb, kind,
):
    """Round-14 regression (ADVICE r13 high): append_ivf/sq/bq_index
    used to claim WITHOUT forwarding app_id, so two concurrent streams
    with distinct app_ids at the same micro-batch id (both start at
    batch 0 — exactly what ingest.py declares safe) matched the
    adoption check (None == None) and cross-adopted each other's LIVE
    claim, clearing the first writer's in-flight staged commit.
    Now the claim doc records the app: app-b at the same batch id
    takes a FRESH id, app-a's claim and staging survive, and app-a's
    own replay still adopts its own claim. Every family's append and
    upsert runs through the one commit helper, so each must hold."""
    import os

    family, _, op = kind.partition("-")
    build, subdirs, datadir = _SEAM_FAMILIES[family]
    append = getattr(simsearch, f"{op or 'append'}_{family}_index")
    path = tempfile.mkdtemp(prefix=f"occ_xadopt_{kind}_") + "/idx"
    build(emb.where(F.col("vec_id") < 20), path, n_centroids=4)
    a_new = emb.where(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 30)
    ).select("vec_id", "embedding")
    b_new = emb.where(F.col("vec_id") >= 30).select("vec_id", "embedding")
    # app-a claims batch 0 and is mid-staging (live, uncommitted)
    _, rows = simsearch._resolve_manifest(spark, path)
    a_claim = simsearch._claim_commit_id(
        spark, path, rows, subdirs, batch_id=0, app_id="app-a"
    )
    staged = f"{path}/{datadir}/commit={a_claim}/centroid_id=0"
    os.makedirs(staged, exist_ok=True)
    sentinel = f"{staged}/inflight.sentinel"
    open(sentinel, "w").write("app-a staging in flight")
    # app-b, same batch id, concurrent: must take a FRESH id and must
    # NOT clear app-a's in-flight staging
    append(spark, path, b_new, batch_id=0, app_id="app-b")
    assert os.path.exists(sentinel), "app-b cross-adopted app-a's claim"
    committed = simsearch._committed(spark, path)
    assert a_claim not in committed and len(committed) == 2
    assert _claim_files(path) == [f".claim-{a_claim}"]
    # app-a's replay of ITS batch 0 still adopts its own claim: the
    # sentinel debris is cleared and the commit lands under a_claim
    append(spark, path, a_new, batch_id=0, app_id="app-a")
    assert not os.path.exists(sentinel)
    assert sorted(simsearch._committed(spark, path)) == sorted(
        committed + [a_claim]
    )
    assert _claim_files(path) == []


def test_appends_forward_app_id_into_claim(spark, emb, monkeypatch):
    """Pin the round-14 fix at the seam: every per-family append and
    upsert must forward app_id into _claim_commit_id so the claim doc
    records the application (the behavioral test above stages app-a's
    claim the way the FIXED code does; this one fails if the
    forwarding itself is ever reverted)."""
    seen = {}
    real = simsearch._claim_commit_id

    def rec(spark_, path_, rows_, subdirs_, **kw):
        seen[path_] = kw.get("app_id")
        return real(spark_, path_, rows_, subdirs_, **kw)

    monkeypatch.setattr(simsearch, "_claim_commit_id", rec)
    new = emb.where(F.col("vec_id") >= 30).select("vec_id", "embedding")
    for family, (build, _, _) in _SEAM_FAMILIES.items():
        for op in ("append", "upsert"):
            kind = f"{op}_{family}_index"
            path = tempfile.mkdtemp(prefix=f"occ_fwd_{kind}_") + "/idx"
            build(emb.where(F.col("vec_id") < 30), path, n_centroids=4)
            getattr(simsearch, kind)(
                spark, path, new, batch_id=0, app_id=f"app-{kind}"
            )
            assert seen[path] == f"app-{kind}", (
                f"{kind} dropped app_id on the claim"
            )


# --- claim leases (round 14) ------------------------------------------------


def _age_claim(path, cid, age_sec=10_000_000):
    """Backdate a claim doc's recorded birth time (tests only). The
    direct rewrite invalidates Hadoop's local-FS CRC sidecar, so drop
    it — otherwise every later read raises ChecksumException and the
    lease machinery (correctly) spares the unreadable claim."""
    import json
    import os
    import time

    f = f"{path}/manifest/.claim-{cid}"
    doc = json.load(open(f))
    doc["ts"] = time.time() - age_sec
    with open(f, "w") as fh:
        json.dump(doc, fh)
    crc = f"{path}/manifest/..claim-{cid}.crc"
    if os.path.exists(crc):
        os.remove(crc)


def test_expired_orphan_claim_reclaimed_during_normal_append(spark, emb):
    """A crashed writer's claim older than the lease is auto-reclaimed
    by the NEXT ordinary append: the freed id is reused, the orphan's
    staged debris is cleared by the new holder, and no manual
    vacuum_index(reclaim_claims=True) pass is needed."""
    import os

    path = tempfile.mkdtemp(prefix="lease_rec_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    new = emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding")
    _, rows = simsearch._resolve_manifest(spark, path)
    orphan = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    staged = f"{path}/cells/commit={orphan}/centroid_id=0"
    os.makedirs(staged, exist_ok=True)
    open(f"{staged}/crashed.sentinel", "w").write("orphan debris")
    _age_claim(path, orphan)
    simsearch.append_ivf_index(spark, path, new)
    assert simsearch._committed(spark, path) == [0, orphan]
    assert _claim_files(path) == []
    assert not os.path.exists(f"{staged}/crashed.sentinel")
    got = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells")
        .where(F.col("commit") == orphan)
        .collect()
    )
    assert got == sorted(r.vec_id for r in new.collect())


def test_young_orphan_claim_spared_during_append(spark, emb):
    """A claim younger than the lease — possibly a LIVE slow writer —
    is never reclaimed by a concurrent append: the append takes the
    next id and the claim (and its staging) survive."""
    import os

    path = tempfile.mkdtemp(prefix="lease_young_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    new = emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding")
    _, rows = simsearch._resolve_manifest(spark, path)
    live = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    staged = f"{path}/cells/commit={live}/centroid_id=0"
    os.makedirs(staged, exist_ok=True)
    open(f"{staged}/inflight.sentinel", "w").write("live staging")
    simsearch.append_ivf_index(spark, path, new)
    assert simsearch._committed(spark, path) == [0, live + 1]
    assert _claim_files(path) == [f".claim-{live}"]
    assert os.path.exists(f"{staged}/inflight.sentinel")


def test_lease_lost_writer_aborts_loudly(spark, emb):
    """A writer whose claim vanished (lease expired and a prober
    reclaimed the id) must ABORT at commit time, never CAS the
    manifest over a possibly-reassigned id."""
    import os

    path = tempfile.mkdtemp(prefix="lease_lost_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    ver, rows, _applied = simsearch._manifest_snapshot(spark, path)
    nxt = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    os.remove(f"{path}/manifest/.claim-{nxt}")  # the reclaim
    with pytest.raises(simsearch.ManifestConflictError, match="lease"):
        simsearch._append_manifest(
            spark, path, rows, nxt,
            subdirs=simsearch.IVF_INDEX_SUBDIRS,
            read_version=ver if ver is not None else 0,
        )
    # nothing committed; the manifest is untouched
    assert simsearch._committed(spark, path) == [0]


def test_vacuum_default_reclaims_expired_spares_young(spark, emb):
    """Default vacuum (no flags) reclaims an EXPIRED orphan claim and
    its staging automatically, while a claim younger than the lease —
    potentially a live writer — keeps both its claim file and its
    staged data. reclaim_claims=True remains the force-all override."""
    import os

    path = tempfile.mkdtemp(prefix="lease_vac_") + "/idx"
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    _, rows = simsearch._resolve_manifest(spark, path)
    old = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    young = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    for cid in (old, young):
        d = f"{path}/cells/commit={cid}/centroid_id=0"
        os.makedirs(d, exist_ok=True)
        open(f"{d}/staged.sentinel", "w").write("x")
    _age_claim(path, old)
    removed = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS
    )
    assert f"cells/commit={old}" in removed
    assert f"manifest/.claim-{old}" in removed
    assert not any(f"commit={young}" in r for r in removed)
    assert _claim_files(path) == [f".claim-{young}"]
    assert os.path.exists(f"{path}/cells/commit={young}")
    removed = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, reclaim_claims=True
    )
    assert f"cells/commit={young}" in removed
    assert _claim_files(path) == []


def test_renew_claim_extends_lease(spark, emb):
    """_renew_claim refreshes an aging claim's ts in place: after a
    renewal, the claim is no longer an expiry candidate and a
    concurrent append spares it (a compaction fold renews at every
    subdir boundary, so a slow-but-live fold never reads as an
    orphan)."""
    path = tempfile.mkdtemp(prefix="lease_renew_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    new = emb.where(F.col("vec_id") >= 20).select("vec_id", "embedding")
    _, rows = simsearch._resolve_manifest(spark, path)
    held = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    _age_claim(path, held)  # about to be treated as an orphan...
    assert simsearch._expired_claim_ids(
        spark, path, {0}, [held]
    ) == [held]
    assert simsearch._renew_claim(spark, path, held)  # ...renewed
    assert simsearch._expired_claim_ids(spark, path, {0}, [held]) == []
    simsearch.append_ivf_index(spark, path, new)
    assert simsearch._committed(spark, path) == [0, held + 1]
    assert _claim_files(path) == [f".claim-{held}"]


def test_stolen_claim_detected_by_owner_token(spark, emb):
    """The id-reissue race the bare existence check cannot see: writer
    A's claim expires, a prober reclaims it, writer B claims the SAME
    id — the file exists again, but with B's owner token. A's commit
    attempt must abort; B's must still pass."""
    path = tempfile.mkdtemp(prefix="lease_steal_") + "/idx"
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") < 20), path, n_centroids=4
    )
    ver, rows, _applied = simsearch._manifest_snapshot(spark, path)
    cid = simsearch._claim_commit_id(
        spark, path, rows, simsearch.IVF_INDEX_SUBDIRS
    )
    owner_a = simsearch._CLAIM_OWNERS[(path, cid)]
    # A's lease expires; the reclaim frees the id; B claims it
    _age_claim(path, cid)
    _, rows_b = simsearch._resolve_manifest(spark, path)
    cid_b = simsearch._claim_commit_id(
        spark, path, rows_b, simsearch.IVF_INDEX_SUBDIRS
    )
    assert cid_b == cid  # same id, reissued
    owner_b = simsearch._CLAIM_OWNERS[(path, cid)]
    assert owner_b != owner_a
    # writer A's process state: restore A's remembered token
    simsearch._CLAIM_OWNERS[(path, cid)] = owner_a
    with pytest.raises(
        simsearch.ManifestConflictError, match="different writer"
    ):
        simsearch._verify_claim_held(spark, path, cid)
    # ...and A must not be able to renew it either
    with pytest.raises(simsearch.ManifestConflictError):
        simsearch._renew_claim(spark, path, cid)
    # writer B (the current holder) passes
    simsearch._CLAIM_OWNERS[(path, cid)] = owner_b
    simsearch._verify_claim_held(spark, path, cid)
    simsearch._release_claim(spark, path, cid)


# ---- minor compaction (round 14): small-commit fold, large survive ----


def _hbytes(spark, p):
    # hadoop-visible bytes (os.walk would count local .crc checksums)
    from agni_spark.sources.layout import _hfs

    fs, P = _hfs(spark, p)
    return fs.getContentSummary(P(p)).getLength() if fs.exists(P(p)) else 0


def test_minor_compact_folds_small_keeps_large(spark, emb, queries):
    path = tempfile.mkdtemp(prefix="mc_ivf_")
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") % 10 != 0), path, n_centroids=4
    )
    for m in (0, 10, 20):
        simsearch.append_ivf_index(
            spark, path,
            emb.where(
                (F.col("vec_id") % 10 == 0) & (F.col("vec_id") % 30 == m)
            ),
        )
    before = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    )
    thresh = _hbytes(spark, f"{path}/cells/commit=0")
    nxt = simsearch.compact_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, small_bytes=thresh
    )
    _, rows, _ = simsearch._manifest_snapshot(spark, path)
    # the base commit SURVIVES in place; only the appends folded
    assert sorted(c for c, _ in rows) == [0, nxt]
    assert _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    ) == before
    # folded commit dirs become vacuumable orphans; probe unchanged
    removed = simsearch.vacuum_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS
    )
    assert any("commit=1" in r for r in removed)
    assert not any("commit=0" in r for r in removed)
    assert _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    ) == before
    # nothing under a tiny threshold: no-op, manifest untouched
    assert simsearch.compact_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, small_bytes=10
    ) == -1


def test_minor_compact_carries_folded_tombstones(spark, emb, queries):
    # a delete committed as a TINY tombstone-only commit targets rows
    # living in the LARGE surviving base — the minor fold must carry
    # the tombstone (re-stamped onto the new commit), not consume it
    path = tempfile.mkdtemp(prefix="mc_tomb_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    simsearch.delete_from_index(
        spark, path, emb.where(F.col("vec_id") % 9 == 4).select("vec_id"),
        simsearch.IVF_INDEX_SUBDIRS,
    )
    simsearch.append_ivf_index(
        spark, path,
        spark.createDataFrame(
            [(200, [2.0] * 8)], "vec_id long, embedding array<float>"
        ),
    )
    before = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    )
    assert not any(r[1] % 9 == 4 for r in before)  # deletes hidden
    thresh = _hbytes(spark, f"{path}/cells/commit=0")
    nxt = simsearch.compact_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, small_bytes=thresh
    )
    _, rows, _ = simsearch._manifest_snapshot(spark, path)
    assert sorted(c for c, _ in rows) == [0, nxt]
    after = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    )
    assert after == before  # carried tombstone still hides base rows
    # ...and survives a vacuum of the folded originals
    simsearch.vacuum_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    assert _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    ) == before


def test_minor_compact_upsert_horizon_scrubbed_and_carried(
    spark, emb, queries
):
    # an upsert (scoped tombstone + replacement rows, both tiny
    # commits) folds; the replacement must stay live at the new
    # commit and the superseded base rows must stay hidden
    path = tempfile.mkdtemp(prefix="mc_ups_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)
    # two upserts -> two small commits (a single small commit is the
    # designed no-op: nothing to fold together)
    simsearch.upsert_ivf_index(spark, path, _neg(emb.where(F.col("vec_id") == 5)))
    simsearch.upsert_ivf_index(spark, path, _neg(emb.where(F.col("vec_id") == 6)))
    before = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    )
    thresh = _hbytes(spark, f"{path}/cells/commit=0")
    nxt = simsearch.compact_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, small_bytes=thresh
    )
    _, rows, _ = simsearch._manifest_snapshot(spark, path)
    assert sorted(c for c, _ in rows) == [0, nxt]
    assert _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    ) == before
    # full fold afterwards consumes the carried tombstone; unchanged
    simsearch.compact_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    simsearch.vacuum_index(spark, path, simsearch.IVF_INDEX_SUBDIRS)
    assert _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=4)
    ) == before


def test_minor_compact_preserves_surviving_provenance(spark, emb):
    # surviving manifest rows keep their batch ids; the folded commit
    # carries the FOLDED rows' max batch id; per-app watermarks carry
    path = tempfile.mkdtemp(prefix="mc_prov_")
    simsearch.write_ivf_index(
        emb.where(F.col("vec_id") % 10 != 0), path, n_centroids=4
    )
    big = emb.where(F.col("vec_id") % 10 == 0)
    simsearch.append_ivf_index(spark, path, big.limit(2), batch_id=3,
                               app_id="appA")
    simsearch.append_ivf_index(spark, path, big.limit(1), batch_id=7,
                               app_id="appB")
    thresh = _hbytes(spark, f"{path}/cells/commit=0")
    nxt = simsearch.compact_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, small_bytes=thresh
    )
    _, rows, applied = simsearch._manifest_snapshot(spark, path)
    assert sorted(c for c, _ in rows) == [0, nxt]
    by_commit = dict(rows)
    assert by_commit[nxt] == 7  # folded rows' max batch id
    assert applied.get("appA") == 3 and applied.get("appB") == 7
    # a replayed micro-batch from either app is still skipped
    pre = _rows(spark.read.parquet(f"{path}/cells").select("vec_id"))
    simsearch.append_ivf_index(spark, path, big.limit(2), batch_id=3,
                               app_id="appA")
    assert _rows(
        spark.read.parquet(f"{path}/cells").select("vec_id")
    ) == pre


def test_minor_compact_text_family(spark):
    # the minor fold is layout-generic: pin it on the text layout too
    # (multi-subdir: postings/doclens/positions). A large base corpus
    # plus two one-doc appends; fold only the appends; BM25 and phrase
    # serving unchanged; base postings survive in place.
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} w{i % 11} gamma") for i in range(60)],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="mc_txt_")
    text.write_text_index(docs, path, n_buckets=4, positions=True)
    for i, s in ((100, "alpha beta zeta"), (101, "beta beta alpha")):
        text.append_text_index(
            spark, path,
            spark.createDataFrame([(i, s)], "doc_id long, text string"),
        )
    before = _rows(text.bm25_topk_indexed(spark, path, ["alpha", "beta"], k=8))
    phrase_before = _rows(
        text.phrase_topk_indexed(spark, path, "alpha beta", k=8)
    )
    thresh = _hbytes(spark, f"{path}/postings/commit=0")
    nxt = simsearch.compact_index(
        spark, path, simsearch.TEXT_INDEX_SUBDIRS, small_bytes=thresh
    )
    _, rows, _ = simsearch._manifest_snapshot(spark, path)
    assert sorted(c for c, _ in rows) == [0, nxt]
    simsearch.vacuum_index(spark, path, simsearch.TEXT_INDEX_SUBDIRS)
    assert _rows(
        text.bm25_topk_indexed(spark, path, ["alpha", "beta"], k=8)
    ) == before
    assert _rows(
        text.phrase_topk_indexed(spark, path, "alpha beta", k=8)
    ) == phrase_before


# ---- auto-maintenance (round 14): maintain_index + self-tending streams ----


def _big_emb(spark, n=1000):
    # enough rows that the base commit's PARQUET DATA dominates the
    # per-file footer overhead — the mean-size auto threshold needs
    # the base genuinely larger on disk than a stream append
    return spark.createDataFrame(
        _emb_rows(n), "vec_id long, embedding array<float>"
    )


def test_maintain_index_mean_threshold_policy(spark, queries):
    big = _big_emb(spark)
    path = tempfile.mkdtemp(prefix="mt_ivf_")
    simsearch.write_ivf_index(
        big.where(F.col("vec_id") < 900), path, n_centroids=4
    )
    for m in range(3):
        simsearch.append_ivf_index(
            spark, path,
            big.where((F.col("vec_id") >= 900) & (F.col("vec_id") % 3 == m)),
        )
    before = _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2)
    )
    # under the commit-count trigger: advisory no-op, manifest untouched
    assert simsearch.maintain_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, max_commits=8
    ) == -1
    _, rows, _ = simsearch._manifest_snapshot(spark, path)
    assert len(rows) == 4
    # over the trigger: below-mean appends fold, the base survives
    nxt = simsearch.maintain_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, max_commits=3
    )
    _, rows, _ = simsearch._manifest_snapshot(spark, path)
    assert sorted(c for c, _ in rows) == [0, nxt]
    assert _rows(
        simsearch.ivf_ann_stored(spark, path, queries, k=8, nprobe=2)
    ) == before
    # idempotent at steady state: 2 commits <= max_commits
    assert simsearch.maintain_index(
        spark, path, simsearch.IVF_INDEX_SUBDIRS, max_commits=3
    ) == -1


def test_stream_auto_compact_bounds_commits(spark, tmp_path):
    from agni_spark.streaming import ingest as streaming

    big = _big_emb(spark)
    base = big.where(F.col("vec_id") < 900)
    rest = big.where(F.col("vec_id") >= 900)
    qdf = big.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    spath = str(tmp_path / "idx")
    simsearch.write_ivf_index(base, spath, n_centroids=4)
    src = str(tmp_path / "src")
    rest.repartition(6).write.parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, auto_compact=3,
    )
    q.awaitTermination()
    # commit count stays bounded (the whole point): base + at most
    # auto_compact in-flight smalls, never one commit per micro-batch
    _, rows, _ = simsearch._manifest_snapshot(spark, spath)
    commits = sorted(c for c, _ in rows)
    assert commits[0] == 0 and len(commits) <= 4
    # ...and probe answers equal the one-shot append of the same rows
    opath = str(tmp_path / "idx2")
    simsearch.write_ivf_index(base, opath, n_centroids=4)
    simsearch.append_ivf_index(spark, opath, rest)
    assert _rows(
        simsearch.ivf_ann_stored(spark, spath, qdf, k=8, nprobe=2)
    ) == _rows(
        simsearch.ivf_ann_stored(spark, opath, qdf, k=8, nprobe=2)
    )


def test_stream_auto_compact_upsert_mode(spark, tmp_path):
    # CDC stream + auto-maintenance: the folds carry the upserts'
    # horizon tombstones, so replaced base rows stay hidden through
    # every maintenance cycle
    from agni_spark.streaming import ingest as streaming

    big = _big_emb(spark)
    poisoned = big.withColumn(
        "embedding",
        F.when(
            (F.col("vec_id") >= 900) & (F.col("vec_id") % 2 == 0),
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    qdf = big.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    spath = str(tmp_path / "idx")
    simsearch.write_ivf_index(poisoned, spath, n_centroids=4)
    src = str(tmp_path / "src")
    fixes = big.where(
        (F.col("vec_id") >= 900) & (F.col("vec_id") % 2 == 0)
    )
    fixes.repartition(5).write.parquet(src)
    q = streaming.stream_ann_index(
        spark, src, spath, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, mode="upsert", auto_compact=2,
    )
    q.awaitTermination()
    opath = str(tmp_path / "idx2")
    simsearch.write_ivf_index(poisoned, opath, n_centroids=4)
    simsearch.upsert_ivf_index(spark, opath, fixes)
    assert _rows(
        simsearch.ivf_ann_stored(spark, spath, qdf, k=8, nprobe=2)
    ) == _rows(
        simsearch.ivf_ann_stored(spark, opath, qdf, k=8, nprobe=2)
    )


def test_stream_auto_compact_graph_rejected(spark, tmp_path):
    from agni_spark.streaming import ingest as streaming

    with pytest.raises(ValueError, match="graph"):
        streaming.stream_ann_index(
            spark, str(tmp_path / "src"), str(tmp_path / "idx"),
            str(tmp_path / "ckpt"), index_kind="graph", auto_compact=3,
        )


def test_stream_unknown_index_kind_rejected(spark, tmp_path):
    from agni_spark.streaming import ingest as streaming

    with pytest.raises(ValueError, match="index_kind"):
        streaming.stream_ann_index(
            spark, str(tmp_path / "src"), str(tmp_path / "idx"),
            str(tmp_path / "ckpt"), index_kind="lsh",
        )


def test_stream_text_auto_compact(spark, tmp_path):
    from agni_spark.streaming import ingest as streaming

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} w{i % 11} gamma") for i in range(200)],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(1000 + i, f"alpha zeta w{i % 5}") for i in range(12)],
        "doc_id long, text string",
    )
    spath = str(tmp_path / "tidx")
    text.write_text_index(docs, spath, n_buckets=4)
    src = str(tmp_path / "src")
    extra.repartition(4).write.parquet(src)
    q = streaming.stream_text_index(
        spark, src, spath, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, auto_compact=2,
    )
    q.awaitTermination()
    _, rows, _ = simsearch._manifest_snapshot(spark, spath)
    commits = sorted(c for c, _ in rows)
    assert commits[0] == 0 and len(commits) <= 3
    opath = str(tmp_path / "tidx2")
    text.write_text_index(docs, opath, n_buckets=4)
    text.append_text_index(spark, opath, extra)
    assert _rows(
        text.bm25_topk_indexed(spark, spath, ["alpha", "zeta"], k=10)
    ) == _rows(
        text.bm25_topk_indexed(spark, opath, ["alpha", "zeta"], k=10)
    )


def test_index_commit_stats_resolves_horizons(spark, emb, queries):
    # n_live must match the probe's view under SCOPED tombstones: an
    # upserted id's old row (commit < horizon) is dead, its
    # replacement (commit >= horizon) is live; a global delete kills
    # every version
    path = tempfile.mkdtemp(prefix="cstats_")
    simsearch.write_ivf_index(emb, path, n_centroids=4)  # commit 0: 40 rows
    simsearch.upsert_ivf_index(
        spark, path, _neg(emb.where(F.col("vec_id").isin(5, 6)))
    )  # commit 1: 2 replacement rows, horizon tombstone on {5, 6}
    simsearch.delete_from_index(
        spark, path, emb.where(F.col("vec_id") == 7).select("vec_id"),
        simsearch.IVF_INDEX_SUBDIRS,
    )  # commit 2: tombstone-only (absent from the primary subdir)
    got = {
        r.commit: (r.n_rows, r.n_live)
        for r in simsearch.index_commit_stats(
            spark, path, simsearch.IVF_INDEX_SUBDIRS
        ).collect()
    }
    # commit 0: 40 contributed; 5 and 6 superseded, 7 deleted -> 37 live
    # commit 1: both replacements live (commit >= their horizon)
    # commit 2: no primary-subdir partition -> no row (tombstone-only)
    assert got == {0: (40, 37), 1: (2, 2)}
    # cross-check n_live against the probe's corpus view
    live_ids = {
        r.vec_id
        for r in simsearch.ivf_ann_stored(
            spark, path, queries, k=40, nprobe=4
        ).collect()
    }
    assert 7 not in live_ids and 5 in live_ids
    assert sum(n for _, n in got.values()) == 39  # 40 - delete + 2 - 2 old
