"""Multimodal column plumbing (north-star extension): image/audio/video
as opaque `binary` payloads + typed metadata, processed by Arrow-batched
Python (mapInPandas) — the pattern for decode/resize/feature-extract at
100 TB (no driver collect, batch-at-a-time memory footprint).

The container has no image/audio codecs, so the actual DECODE step is
stubbed behind an import-try (`_try_decode_image`): with PIL installed
the real decode runs; without it a clearly-marked deterministic
fallback keeps the distributed plumbing — schema, batching, partition
behavior — real and testable. Byte-level metadata (length, md5) is
always real and is oracle-checked against DuckDB.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "media_id long, kind string, n_bytes long, digest string, "
    "width int, height int, decoded boolean"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from documents: payload = utf-8 bytes of the
    text (a stand-in corpus of opaque blobs with real bytes)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("blob").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def extract_meta(media: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    mapInPandas: one Python worker per partition, pandas batch in /
    batch out, no per-row overhead. Output partitioning follows input
    (narrow) — at scale this pipelines with the parquet scan.

    NOTE: the generator (and its helpers) are deliberately
    self-contained so cloudpickle serializes them BY VALUE — Python
    workers must not need agni_spark on their sys.path (the serving
    driver may launch from any cwd)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        def try_decode(payload: bytes) -> tuple[int, int, bool]:
            # Real decode when PIL exists; deterministic fake otherwise
            # (dimensions derived from content hash, stable for tests).
            try:
                import io

                from PIL import Image  # type: ignore

                with Image.open(io.BytesIO(payload)) as im:
                    return im.width, im.height, True
            except Exception:
                h = int(_hl.md5(payload).hexdigest()[:8], 16)
                return 64 + h % 512, 64 + (h >> 9) % 512, False

        for pdf in batches:
            payloads = pdf["payload"]
            dims = [try_decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "digest": payloads.map(
                        lambda p: _hl.md5(p).hexdigest()
                    ),
                    "width": pd.Series([d[0] for d in dims], dtype="int32"),
                    "height": pd.Series([d[1] for d in dims], dtype="int32"),
                    "decoded": [d[2] for d in dims],
                }
            )

    return media.mapInPandas(gen, META_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 4096) -> DataFrame:
    """Video-frame-sampling shaped op: emit one row per sampled offset
    of each payload (the Spark-side fan-out pattern for per-frame
    downstream work). Sampling itself is a real byte-slice; actual
    frame DECODE would replace `digest` with pixel features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl  # self-contained: workers don't import agni_spark

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for off in range(0, len(payload), every_n_bytes):
                    chunk = bytes(payload[off : off + every_n_bytes])
                    rows.append(
                        (
                            int(mid),
                            off,
                            len(chunk),
                            _hl.md5(chunk).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "offset", "n_bytes", "digest"]
            )

    return media.mapInPandas(
        gen, "media_id long, offset long, n_bytes long, digest string"
    )


def audio_windows(
    media: DataFrame, sample_rate_hz: int = 16_000, window_samples: int = 4096
) -> DataFrame:
    """Audio-shaped op: treat payloads as PCM16 mono at sample_rate_hz,
    emit one row per analysis window with start time and RMS energy —
    the fan-out + typed-metadata pattern for audio feature extraction
    (VAD, loudness filtering) at corpus scale. Real byte math (numpy
    int16 view) in Arrow-batched mapInPandas; a codec-backed decoder
    would replace the PCM16 assumption, not the plumbing.

    Self-contained closure: workers never import agni_spark."""

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        rows = []
        for pdf in batches:
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                usable = len(buf) - (len(buf) % 2)
                pcm = _np.frombuffer(buf[:usable], dtype="<i2")
                for w, off in enumerate(range(0, len(pcm), window_samples)):
                    win = pcm[off : off + window_samples].astype(_np.float64)
                    rms = float(_np.sqrt(_np.mean(win * win))) if len(win) else 0.0
                    rows.append(
                        (
                            int(mid),
                            w,
                            round(off * 1000.0 / sample_rate_hz, 3),
                            len(win),
                            round(rms, 6),
                        )
                    )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "media_id", "window_idx", "start_ms", "n_samples", "rms",
                ],
            )
            rows = []

    return media.mapInPandas(
        gen,
        "media_id long, window_idx int, start_ms double, "
        "n_samples int, rms double",
    )


def exact_media_dedup(media: DataFrame) -> DataFrame:
    """Payload-identical media dedup: one md5 digest per blob (JVM-side
    — binary md5 is a built-in, no Python worker), keep the smallest
    media_id per digest. The binary twin of dedup.dedup_exact; at
    100 TB this is the first pass of any media-corpus ingest."""
    return (
        media.groupBy(F.md5(F.col("payload")).alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("keep_media_id"),
        )
        .orderBy("digest")
    )


def chunk_dedup_stats(media: DataFrame, chunk_bytes: int = 64) -> DataFrame:
    """Content-addressable chunk store statistics (the backup-system /
    blob-CDN dedup model): payloads split into fixed-size chunks, each
    chunk addressed by its md5 — corpus-level totals vs distinct
    chunks = the storage the CAS would actually hold.

    Spark shape: sequence+explode generates chunk indices (bounded by
    payload length — no UDF), substring slices the binary in place,
    ONE groupBy on the chunk digest. dedup_ratio is 6dp-discretized."""
    chunks = media.select(
        "payload",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.length(F.col("payload")) - 1) / chunk_bytes),
            )
        ).alias("i"),
    ).select(
        F.md5(
            F.expr(f"substring(payload, i * {chunk_bytes} + 1, {chunk_bytes})")
        ).alias("h"),
        F.length(
            F.expr(f"substring(payload, i * {chunk_bytes} + 1, {chunk_bytes})")
        ).alias("nb"),
    )
    per = chunks.groupBy("h").agg(
        F.count(F.lit(1)).alias("copies"), F.min("nb").alias("nb")
    )
    return per.agg(
        F.sum("copies").alias("total_chunks"),
        F.count(F.lit(1)).alias("distinct_chunks"),
        F.sum(F.col("copies") * F.col("nb")).alias("total_bytes"),
        F.sum("nb").alias("stored_bytes"),
        (
            F.floor(
                (F.count(F.lit(1)) / F.sum("copies")) * 1e6 + 0.5
            ) / 1e6
        ).alias("dedup_ratio"),
    )


def blockmean_phash(media: DataFrame, bits: int = 64) -> DataFrame:
    """Block-mean perceptual hash over binary payloads (the pHash
    family's simplest member, byte-domain): the payload is cut into
    `bits` equal blocks; bit i is 1 iff block i's mean byte value
    exceeds the payload's global mean. Near-identical payloads (small
    local edits) agree on most bits — the content-aware complement to
    exact digest dedup. Arrow-batched numpy per partition (the decode
    tier's pattern); the SQL oracle recomputes the identical byte math
    via ord(substring(..)) — a genuinely independent path.

    Output: (media_id, phash long, n_bytes long). Payloads shorter
    than `bits` bytes hash on their full length with repeated-block
    boundaries (floor splits); empty payloads hash to 0. `bits` must
    be in [1, 64] (the hash lands in a LongType)."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64] (LongType hash)")

    def gen(batches):
        import numpy as np
        import pandas as pd_

        for pdf in batches:
            out_ids, out_h, out_n = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(b)
                h = 0
                if n > 0:
                    g = float(b.mean())
                    # block i covers [i*n//bits, (i+1)*n//bits); empty
                    # blocks (n < bits) inherit bit 0
                    for i in range(bits):
                        lo = i * n // bits
                        hi = (i + 1) * n // bits
                        if hi > lo and float(b[lo:hi].mean()) > g:
                            h |= 1 << i
                out_ids.append(mid)
                # mask to signed 64-bit for Spark's LongType (only a
                # bits=64 hash can set the sign bit)
                out_h.append(h - (1 << 64) if h >= (1 << 63) else h)
                out_n.append(n)
            yield pd_.DataFrame(
                {"media_id": out_ids, "phash": out_h, "n_bytes": out_n}
            )

    return media.select("media_id", "payload").mapInPandas(
        gen, "media_id long, phash long, n_bytes long"
    )


def phash_clusters(
    media: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate MEDIA clustering: the text pipeline's
    pairs -> transitive-closure -> keep-one tail applied to perceptual
    hashes — resized/re-encoded/watermarked copies of one visual asset
    collapse to a single representative (min media_id). Pairs come
    from the pigeonhole-exact banded Hamming join (phash_near_dups);
    the closure reuses the alternating-star connected components, so
    cost is O(log n) rounds over candidate pairs, never all pairs."""
    from agni_spark.functions.dedup import connected_components

    pairs = phash_near_dups(media, max_hamming)
    comp = connected_components(pairs, "id_a", "id_b")
    return (
        media.select("media_id")
        .join(
            comp.withColumnRenamed("node", "media_id"), "media_id", "left"
        )
        .select(
            "media_id",
            F.coalesce(F.col("component_id"), F.col("media_id")).alias(
                "component_id"
            ),
        )
        .withColumn(
            "is_kept",
            (F.col("media_id") == F.col("component_id")).cast("int"),
        )
        .orderBy("media_id")
    )


def phash_near_dups(
    media: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance:
    the 64-bit phash splits into 8 one-byte bands; by PIGEONHOLE a
    pair with <= 7 differing bits MUST agree on at least one full band
    (8 bands, at most 7 can be hit), so candidates = same
    (band_idx, band_value) with ZERO false negatives for
    max_hamming <= 7 — the LSH banding trick on hash bits as an EXACT
    candidate generator, never all pairs. Exact Hamming verify
    (bit_count of XOR) filters the candidates; results equal the
    brute-force all-pairs scan, which is therefore the oracle."""
    if max_hamming > 7:
        raise ValueError("8-band pigeonhole guarantee needs max_hamming <= 7")
    hashed = blockmean_phash(media)
    bands = hashed.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), 8 * i)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("bv"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("b"),
    ).select("media_id", "phash", F.col("b.band"), F.col("b.bv"))
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.select(
            "id_a", "id_b", ham.cast("int").alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )
