"""Structured Streaming tier.

Reference mapping:
- S11 lazy-ship staging (shipper.go:189-250: fsnotify + 5s tick +
  hardlink staging so compaction can't delete mid-upload) -> a
  Structured Streaming FILE SOURCE: atomically-listed new files,
  exactly-once via checkpointing — the staging dance disappears.
- The shipper main loop (5s tick upload) -> `writeStream` into the
  time-partitioned block store; the checkpoint is the commit protocol.
- Beyond reference (agni has no write endpoint, SURVEY §2.7): windowed
  aggregation with watermarks for late data, and a CUSTOM STATEFUL
  operator (applyInPandasWithState) computing streaming counter
  `increase` per series across micro-batches — the reference defers
  all of this to upstream Prometheus.

Scale: file-source ingest parallelizes per file; the stateful op
shuffles once on series_id and holds O(1) state per series (last
timestamp/value), the same state a Prometheus counter scrape keeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

SAMPLES_SCHEMA = "series_id long, ts_ms long, value double"


def stream_ingest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    block_ms: int = 7_200_000,
    available_now: bool = True,
):
    """File-source ingest -> time-partitioned store (S11+S9). Returns
    the started StreamingQuery; caller awaits termination."""
    stream = (
        spark.readStream.schema(SAMPLES_SCHEMA)
        .parquet(src_dir)
        .withColumn("block_id", F.expr(f"CAST(ts_ms div {block_ms} AS BIGINT)"))
    )
    writer = (
        stream.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("block_id")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EMBEDDINGS_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_ann_index(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    index_kind: str = "ivf",
    mode: str = "append",
    app_id: str | None = None,
    auto_compact: int | None = None,
):
    """CONTINUOUS ANN INDEX MAINTENANCE: a file-source stream of new
    embedding rows appends into an existing stored index per
    micro-batch (foreachBatch -> the append or upsert writer of the
    simsearch.ANN_FAMILIES row named by `index_kind`, one of 'ivf',
    'sq', 'bq', 'pq', 'graph'; any other kind raises ValueError) —
    each batch's vectors are assigned to the index's
    FROZEN quantizer (for PQ, encoded with the frozen codebooks; for
    the graph, NSW-inserted with exact-kNN links to committed nodes,
    upper layers maintained) and land as their own manifest-committed
    `commit=` partition, so probes serve a consistent snapshot at
    every instant and never see a half-landed batch.

    Exactly-once across restarts, covering BOTH crash windows: (a) a
    crash BEFORE the manifest write — the replay recomputes the SAME
    commit id (the claim records the micro-batch id and is adopted)
    and the writer's dynamic partition overwrite replaces the crashed
    attempt's files instead of doubling rows; (b) a crash AFTER the
    manifest write but BEFORE the streaming checkpoint commit — here
    max(commits)+1 HAS advanced, so the replay would land the same
    rows under a new commit; simsearch._commit detects this because the micro-batch id
    is recorded IN the manifest (atomically with the commit) and skips
    any batch_id <= the max applied id (foreachBatch ids are
    monotone). Empty batches are skipped (no empty commit
    partitions). Probe results after the stream drain equal a batch
    append of the same rows (append == rebuild is already test-pinned
    for the IVF layout), independent of how the files split into
    micro-batches. Returns the started StreamingQuery.

    `mode='upsert'` (round 11, ivf/pq/sq/text; round 12 adds graph)
    turns the stream into CDC ingestion: each micro-batch
    REPLACES-or-inserts its vec_ids via upsert_*_index — a
    horizon-scoped tombstone plus the re-encoding (frozen-model
    assignment for ivf/pq/sq, ordered NSW re-insertion for the graph:
    superseded node rows vanish from the walk's scan while their old
    edges carry forward as routing history, and each batch's new
    links target the live nodes minus the batch's own keys) in ONE
    manifest swap per batch, so a change-feed of vector updates keeps
    the index continuously current while probes always serve exactly
    the newest committed version of every id. The replay contract
    extends to the tombstone: the upserts check the applied batch id
    BEFORE writing anything (a blind replay would re-land the
    tombstone under a new commit and hide its own earlier rows).

    `app_id` (round 13 — the Delta `txn` appId idiom): names this
    streaming application in the manifest's per-app replay-watermark
    map, letting TWO different streams maintain ONE index. Without
    it, both streams share the default watermark and the
    later-starting stream's low batch ids would be silently skipped
    as already-applied. Distinct streams to one index MUST pass
    distinct app_ids (OCC claims + retry make their concurrent batch
    commits safe).

    `auto_compact` (round 14) makes the stream SELF-MAINTAINING: after
    each batch's append, if the manifest lists more than this many
    commits, simsearch.maintain_index runs a MINOR fold (mean-size
    auto threshold — the stream's small appends fold, the big base
    survives in place, O(new-data) per cycle). Probe answers are
    unchanged by construction (compaction moves bytes, never
    answers), and a fold losing an OCC race to another writer is
    silently skipped until the next batch. Not supported for
    index_kind='graph' (graph compaction rebuilds upper layers and
    stays full-only)."""
    from agni_spark.functions.simsearch import ANN_FAMILIES, maintain_index

    if mode not in ("append", "upsert"):
        raise ValueError(f"unknown mode {mode!r}")
    if index_kind not in ANN_FAMILIES:
        raise ValueError(
            f"unknown index_kind {index_kind!r} "
            f"(expected one of {sorted(ANN_FAMILIES)})"
        )
    if auto_compact is not None and index_kind == "graph":
        raise ValueError(
            "auto_compact is not supported for the graph family: graph "
            "compaction rebuilds upper layers and stays full-only "
            "(compact_graph_index)"
        )
    fam = ANN_FAMILIES[index_kind]
    append = fam.upsert if mode == "upsert" else fam.append
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def _append(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        append(
            batch_df.sparkSession, index_path,
            batch_df.select("vec_id", "embedding"),
            batch_id=batch_id, app_id=app_id,
        )
        if auto_compact is not None:
            maintain_index(
                batch_df.sparkSession, index_path, fam.subdirs,
                max_commits=auto_compact,
            )

    writer = (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# the two columns the inverted index actually stores — streamed doc
# files may carry more (lang/source/n_chars); the appender projects
DOCS_SCHEMA = "doc_id long, text string"


def stream_text_index(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    mode: str = "append",
    app_id: str | None = None,
    auto_compact: int | None = None,
):
    """CONTINUOUS TEXT-INDEX MAINTENANCE — the inverted-index twin of
    stream_ann_index: a file-source stream of new documents appends
    into an existing stored text index per micro-batch (foreachBatch
    -> text.append_text_index), each batch's posting lists + doc
    lengths landing as their own manifest-committed `commit=`
    partition. BM25 corpus statistics (n_docs/avgdl/df) are never
    stored — probes fold them over the committed partitions — so the
    served scores are exactly BM25 over build + everything streamed so
    far, independent of how the files split into micro-batches (a
    probe after the drain equals a batch append of the same docs).

    Exactly-once across restarts by the same two-crash-window argument
    as the ANN twin: a crash before the manifest write replays into
    the SAME commit id (dynamic partition overwrite replaces the
    crashed attempt's files); a crash after it is detected by the
    (commit, batch_id) provenance recorded in the manifest and the
    replayed batch is skipped.

    `mode='upsert'` turns the stream into CDC ingestion: each
    micro-batch REPLACES-or-inserts its doc_ids via
    text.upsert_text_index — a horizon-scoped doc_id tombstone plus
    the replacement postings in one manifest swap per batch, keeping
    BM25 stats survivor-exact (a replaced doc is counted once, with
    its new length) while probes always serve the newest committed
    version of every document.

    `auto_compact` (round 14): same self-maintenance contract as
    stream_ann_index — after each batch, if the manifest lists more
    than this many commits, a MINOR fold (mean-size auto threshold)
    absorbs the stream's small posting commits while the base corpus
    survives in place; BM25 stats are fold-invariant (they are
    computed over committed rows, which the fold preserves exactly).
    Returns the started StreamingQuery."""
    from agni_spark.functions.simsearch import (
        TEXT_INDEX_SUBDIRS,
        maintain_index,
    )
    from agni_spark.functions.text import (
        append_text_index,
        upsert_text_index,
    )

    if mode not in ("append", "upsert"):
        raise ValueError(f"unknown mode {mode!r}")
    writer_fn = append_text_index if mode == "append" else upsert_text_index
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def _append(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        writer_fn(
            batch_df.sparkSession, index_path,
            batch_df.select("doc_id", "text"),
            batch_id=batch_id, app_id=app_id,
        )
        if auto_compact is not None:
            maintain_index(
                batch_df.sparkSession, index_path, TEXT_INDEX_SUBDIRS,
                max_commits=auto_compact,
            )

    writer = (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sum(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window sum with late-data watermark — the
    streaming twin of promql.agg_over_time. Input needs an event-time
    `ts` timestamp column (ms-derived)."""
    with_ts = stream.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", watermark)
    return (
        with_ts.groupBy("series_id", F.window("ts", window))
        .agg(
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "series_id",
            F.unix_millis(F.col("window.start")).alias("bucket_ms"),
            "sum_value",
            "n",
        )
    )


def streaming_increase(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-series counter increase across
    micro-batches (applyInPandasWithState). State = (last_ts, last_v);
    emits one row per batch per series with the reset-corrected
    increase observed in that batch — the streaming formulation of
    promql.increase.

    The closure is self-contained (workers never import agni_spark)."""

    def fn(key, pdf_iter, state):
        import pandas as _pd

        (series_id,) = key
        last_ts, last_v = state.get if state.exists else (None, None)
        inc = 0.0
        n = 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_ms", "value"])
            for ts, v in zip(pdf["ts_ms"], pdf["value"]):
                if last_v is not None:
                    inc += (v - last_v) if v >= last_v else v
                last_ts, last_v = int(ts), float(v)
                n += 1
        state.update((last_ts, last_v))
        yield _pd.DataFrame(
            {
                "series_id": [series_id],
                "n_in_batch": [n],
                "increase": [round(inc, 6)],
                "last_ts": [last_ts],
            }
        )

    return stream.groupBy("series_id").applyInPandasWithState(
        fn,
        outputStructType="series_id long, n_in_batch long, increase double, last_ts long",
        stateStructType="last_ts long, last_v double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Exactly-once sample dedup at the stream edge: drop repeated
    `keys` rows (default (series_id, ts_ms)) — remote-write retries and
    at-least-once producers send them — keeping state only within the
    watermark, so state size is bounded by the late-data horizon
    instead of growing forever. The streaming twin of
    querier.merge_on_read."""
    with_ts = stream.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", watermark)
    return with_ts.dropDuplicatesWithinWatermark(
        keys or ["series_id", "ts_ms"]
    ).select("series_id", "ts_ms", "value")


def streaming_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    clicks by the same user within `within` before it — the streaming
    twin of relational.events_funnel's click->purchase step. Both sides
    are watermarked so join state expires once the interval + watermark
    horizon passes (bounded state, the 100 TB requirement for infinite
    streams). Event-time range predicate -> Spark's stream-stream
    inner join with state cleanup."""
    c = (
        clicks.withColumn("click_ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("click_ts", watermark)
        .select("user_id", F.col("event_id").alias("click_id"), "click_ts")
    )
    p = (
        purchases.withColumn("purchase_ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("purchase_ts", watermark)
        .select(
            "user_id", F.col("event_id").alias("purchase_id"),
            "purchase_ts", "value",
        )
    )
    return c.join(
        p,
        (c.user_id == p.user_id)
        & (p.purchase_ts > c.click_ts)
        & (p.purchase_ts <= c.click_ts + F.expr(f"INTERVAL {within}")),
    ).select(
        c.user_id.alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_millis("click_ts").alias("click_ms"),
        F.unix_millis("purchase_ts").alias("purchase_ms"),
        "value",
    )


def streaming_sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time session windows (dynamic gap-close) — the streaming
    twin of relational.events_sessionize. A session closes when no
    event arrives for `gap`; late events within `watermark` still
    extend/merge sessions. State per open session is O(1)."""
    with_ts = stream.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", watermark)
    return (
        with_ts.groupBy("series_id", F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "series_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
            "n",
            "sum_value",
        )
    )


def stream_ship(
    spark: SparkSession,
    src_dir: str,
    store_path: str,
    checkpoint_dir: str,
    block_ms: int = 7_200_000,
    available_now: bool = True,
):
    """Streaming SHIPPER into the registry-committed block store — the
    full S11+S9 lifecycle (reference: shipper.go main loop, staged
    upload then marker-key-last commit). Each micro-batch appends its
    samples time-partitioned and then rewrites the registry LAST via
    layout.write_blocks, so a reader listing the registry never sees a
    block whose data hasn't fully landed. Exactly-once across restarts
    comes from the Structured Streaming checkpoint (the file source
    replays uncommitted batches; re-committing their blocks is idempotent).

    Contrast with stream_ingest, which lands raw partitioned parquet
    WITHOUT the commit marker: that is the staging tier; this is the
    shipper."""
    from agni_spark.sources import layout

    stream = spark.readStream.schema(SAMPLES_SCHEMA).parquet(src_dir)

    def _ship(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id is monotone across the stream (checkpoint-stable on
        # replay) — the natural ingest sequence for last-wins
        # merge-on-read
        layout.write_blocks(
            batch_df, store_path, block_ms=block_ms, mode="append",
            seq=batch_id,
        )

    writer = (
        stream.writeStream.foreachBatch(_ship)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ship_exposition(
    spark: SparkSession,
    src_dir: str,
    store_path: str,
    checkpoint_dir: str,
    block_ms: int = 7_200_000,
    available_now: bool = True,
):
    """Streaming scrape ingest: a directory of exposition-format text
    files (each scrape drop = one file) parsed with the SAME JVM-side
    expressions as the batch path (protocol.exposition) and shipped
    into the registry-committed block store. The series dim appends
    per batch (ids are deterministic label-set hashes, so replays and
    re-scrapes land identical ids and merge-on-read dedupes)."""
    from agni_spark.protocol.exposition import parse_exposition
    from agni_spark.sources import layout

    stream = (
        spark.readStream.format("text")
        .load(src_dir)
        .withColumnRenamed("value", "line")
    )

    def _ship(batch_df: DataFrame, batch_id: int) -> None:
        samples, series = parse_exposition(batch_df)
        layout.write_blocks(
            samples, store_path, block_ms=block_ms, mode="append",
            seq=batch_id, series=series,
        )

    writer = (
        stream.writeStream.foreachBatch(_ship)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_downsample(
    spark: SparkSession,
    src_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
    res_ms: int,
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Continuously-maintained downsample tier: the streaming twin of
    sources.downsample.write_downsampled. Partial aggregates per
    (series, res-bucket) accumulate in streaming state behind a
    watermark; each FINALIZED bucket appends once to the rollup store
    (append output mode — closed windows only, so the store never
    holds a bucket twice). Algebraic partials (n/sum/min/max/
    first/last) re-aggregate downstream exactly like batch-built
    resolutions."""
    t = F.struct(F.col("ts_ms"), F.col("value"))
    stream = (
        spark.readStream.schema(SAMPLES_SCHEMA)
        .parquet(src_dir)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", watermark)
    )
    rolled = (
        stream.groupBy(
            "series_id",
            F.window("ts", f"{res_ms} milliseconds").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min(t).getField("value").alias("first_value"),
            F.max(t).getField("value").alias("last_value"),
        )
        .select(
            "series_id",
            F.unix_millis(F.col("w.start")).alias("bucket_ms"),
            "n", "sum_value", "min_value", "max_value",
            "first_value", "last_value",
        )
    )
    writer = (
        rolled.writeStream.format("parquet")
        .option("path", f"{rollup_path}/res={res_ms}")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_alert_for(
    stream: DataFrame,
    threshold: float,
    need: int,
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Continuous alert evaluation with the `for:` clause as STREAMING
    STATE: per series, bucket samples on a fixed grid (count per
    bucket as the condition value), and track the run of CONSECUTIVE
    above-threshold buckets across micro-batches in
    applyInPandasWithState — state is two ints per series (last bucket,
    run length), the streaming twin of promql.alert_for_state's range
    window. Emits one row per evaluated bucket with pending/firing; a
    gap bucket or a below-threshold bucket resets the run (and emits
    nothing for silent buckets, matching the batch op's
    condition-rows-only shape). Requires per-key bucket-ordered arrival
    (the shape a watermarked upstream produces); late buckets older
    than the state's frontier are ignored rather than corrupting the
    run."""

    def fn(key, pdf_iter, state):
        import pandas as _pd

        (series_id,) = key
        last_bucket, run = state.get if state.exists else (None, 0)
        out_b, out_v, out_s = [], [], []
        counts: dict[int, int] = {}
        for pdf in pdf_iter:
            for ts in pdf["ts_ms"]:
                b = (int(ts) // bucket_ms) * bucket_ms
                counts[b] = counts.get(b, 0) + 1
        for b in sorted(counts):
            if last_bucket is not None and b <= last_bucket:
                continue  # late bucket behind the frontier: ignore
            v = float(counts[b])
            if v > threshold:
                if last_bucket is not None and b == last_bucket + bucket_ms:
                    run += 1
                else:
                    run = 1
                out_b.append(b)
                out_v.append(v)
                out_s.append("firing" if run >= need else "pending")
            else:
                run = 0
            last_bucket = b
        state.update((last_bucket, run))
        yield _pd.DataFrame(
            {
                "series_id": [series_id] * len(out_b),
                "bucket_ms": out_b,
                "value": out_v,
                "state": out_s,
            }
        )

    return stream.groupBy("series_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "series_id long, bucket_ms long, value double, state string"
        ),
        stateStructType="last_bucket long, run long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_topk(
    stream: DataFrame,
    k: int = 5,
    bucket_ms: int = 86_400_000,
    n_shards: int = 8,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful per-window top-k, SHARDED, EMIT-ON-WINDOW-CLOSE: each
    (bucket, shard) state accumulates per-series running sums while
    the window is open and emits its <= k partial EXACTLY ONCE — when
    the event-time watermark passes the window end (EventTimeTimeout).
    `streaming_topk_merge` folds the per-shard partials into the final
    per-window top-k.

    State is keyed on (bucket_ms, pmod(hash(series_id), n_shards)), so
    a window's per-series running sums spread over n_shards state
    objects / tasks instead of funnelling through one: at 100 TB a day
    bucket with millions of active series costs each task only its
    shard's slice. Per-shard top-k partials are EXACT inputs to the
    global top-k because a series lives wholly inside one shard (hash
    on series_id): any global top-k member ranks <= k within its own
    shard under the same (rounded sum DESC, series_id ASC) order.

    Emission contract (the r6 design fix): the sink grows by
    n_shards * <= k rows per CLOSED window, total — not per
    micro-batch. A long-running continuous stream's sink is bounded by
    windows, and the merge needs no supersession filtering. The flip
    side is standard append-mode semantics: a window whose end hasn't
    passed the final watermark (window_end > max event time -
    watermark delay) never emits — same rule as windowed_sum, and the
    state is dropped on emit, so late data beyond the watermark is
    ignored by design. Multi-micro-batch replays stay correct: an open
    window's state carries across batches and still emits once, at
    close. Sums round to 4dp before ranking so order is
    engine-independent. The closure is self-contained (workers never
    import agni_spark)."""

    def fn(key, pdf_iter, state):
        import pandas as _pd

        bucket, shard = int(key[0]), int(key[1])
        if state.hasTimedOut:
            # window closed: emit the final partial once, drop state
            sids, sums = state.get
            top = sorted(
                ((round(v, 4), sid) for sid, v in zip(sids, sums)),
                key=lambda t: (-t[0], t[1]),
            )[:k]
            state.remove()
            yield _pd.DataFrame(
                {
                    "bucket_ms": [bucket] * len(top),
                    "shard": [shard] * len(top),
                    "series_id": [sid for _, sid in top],
                    "sum_value": [v for v, _ in top],
                }
            )
            return
        acc = dict(zip(*state.get)) if state.exists else {}
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["series_id", "ts_ms", "value"])
            for sid, v in zip(pdf["series_id"], pdf["value"]):
                acc[int(sid)] = acc.get(int(sid), 0.0) + float(v)
        state.update((list(acc.keys()), list(acc.values())))
        # close at window end; Spark requires the timeout to sit beyond
        # the current watermark (data arriving with the watermark
        # already past the end closes on the next no-data batch)
        state.setTimeoutTimestamp(
            max(bucket + bucket_ms, int(state.getCurrentWatermarkMs()) + 1)
        )
        # nothing to emit while the window is open

    bucketed = (
        stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", watermark)
        .withColumn(
            "bucket_ms",
            (F.col("ts_ms") / F.lit(bucket_ms)).cast("long") * bucket_ms,
        )
        .withColumn(
            "shard", F.pmod(F.hash("series_id"), F.lit(n_shards)).cast("int")
        )
    )
    return bucketed.groupBy("bucket_ms", "shard").applyInPandasWithState(
        fn,
        outputStructType=(
            "bucket_ms long, shard int, series_id long, sum_value double"
        ),
        stateStructType="sids array<long>, sums array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_topk_merge(partials: DataFrame, k: int = 5) -> DataFrame:
    """Fold streaming_topk's per-shard partials into the final
    per-window top-k (batch side, over the sink table): one rank
    window over the <= k * n_shards rows per bucket — O(k * n_shards)
    work per window, independent of series cardinality. Each shard
    emitted exactly once (at window close), so no supersession
    filtering is needed."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket_ms").orderBy(
        F.col("sum_value").desc(), F.col("series_id").asc()
    )
    return (
        partials.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("bucket_ms", "series_id", "sum_value", "rk")
    )
