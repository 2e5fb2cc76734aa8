"""Prometheus text exposition format (the scrape path) as a
DISTRIBUTED parse: a DataFrame of raw text lines in, (samples, series)
out — completing the ingest surface next to remote-write
(`server.decode_write`) and TSDB block import (`sources/converter.py`).

Everything is JVM-side regex/map expressions (whole-stage codegen, no
Python per line): at 100 TB of scraped text the parse is a narrow map
over the line scan. Supported subset of the format (documented, not
silent): metric{labels} value [timestamp_ms], # comments, +Inf/-Inf/
NaN specials; label values must not contain escaped quotes, commas or
equals signs (the same RE2-safe restriction as text.pii_scan — full
escape handling needs a real lexer, which belongs in a scraper, not
the engine).

series_id is the SAME deterministic 60-bit md5 of the canonical sorted
`n=v` label string (including __name__) that the remote-write receiver
derives (`server.decode_write`) — any ingest path lands identical ids
for identical label sets with no coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agni_spark.functions.dedup import hash60

_LINE_RE = (
    r"^([a-zA-Z_:][a-zA-Z0-9_:]*)"  # metric name
    r"(?:\{([^}]*)\})?"  # optional label blob
    r"\s+(\S+)"  # value
    r"(?:\s+(-?[0-9]+))?\s*$"  # optional timestamp (ms)
)


def parse_exposition(
    lines: DataFrame, default_ts_ms: int = 0, col: str = "line"
) -> tuple[DataFrame, DataFrame]:
    """Parse exposition lines -> (samples, series).

    samples: (series_id, ts_ms, value) — timestampless lines get
    `default_ts_ms` (the scrape time, per the format spec).
    series:  (series_id, labels map<string,string>) distinct, labels
    including __name__.
    """
    l = F.trim(F.col(col))
    base = lines.where(
        (~l.startswith("#")) & (l != "")
    ).select(
        F.regexp_extract(l, _LINE_RE, 1).alias("name"),
        F.regexp_extract(l, _LINE_RE, 2).alias("blob"),
        F.regexp_extract(l, _LINE_RE, 3).alias("raw_value"),
        F.regexp_extract(l, _LINE_RE, 4).alias("raw_ts"),
    ).where(F.col("name") != "")
    labels = F.map_concat(
        F.when(F.col("blob") == "", F.create_map()).otherwise(
            F.str_to_map(
                F.regexp_replace(F.col("blob"), '"', ""),
                F.lit(","),
                F.lit("="),
            )
        ),
        F.create_map(F.lit("__name__"), F.col("name")),
    )
    # canonical sorted "n=v" join == decode_write's python-side key
    from agni_spark.datamodel import label_set_key

    key = label_set_key(F.col("labels"))
    value = F.when(F.col("raw_value") == "+Inf", F.lit(float("inf"))).when(
        F.col("raw_value") == "-Inf", F.lit(float("-inf"))
    ).otherwise(F.col("raw_value").cast("double"))
    parsed = (
        base.withColumn("labels", labels)
        .withColumn("series_id", hash60(key))
        .withColumn("value", value)
        .withColumn(
            "ts_ms",
            F.when(F.col("raw_ts") == "", F.lit(int(default_ts_ms)))
            .otherwise(F.col("raw_ts").cast("long")),
        )
    )
    samples = parsed.select("series_id", "ts_ms", "value")
    series = parsed.select("series_id", "labels").dropDuplicates(["series_id"])
    return samples, series


def ingest_exposition(
    spark,
    text_path: str,
    store_path: str,
    default_ts_ms: int = 0,
    block_ms: int = 7_200_000,
) -> int:
    """Scrape-file ingest: text file(s) -> parse -> append to the block
    store through `layout.write_blocks` (series dim, data, registry
    committed LAST — the same path as handle_write). Returns the sample
    count landed."""
    from agni_spark.sources import layout

    lines = spark.read.text(text_path).withColumnRenamed("value", "line")
    samples, series = parse_exposition(lines, default_ts_ms)
    return layout.write_blocks(
        samples, store_path, block_ms=block_ms, mode="append", series=series
    )


def format_exposition(
    samples: DataFrame, series: DataFrame, with_ts: bool = True
) -> DataFrame:
    """The inverse: (samples, series) -> exposition text lines (a
    distributed /metrics exporter / federation endpoint body). Label
    pairs are sorted canonically; __name__ becomes the metric name.
    Output: one `line` column, ordered by (series_id, ts_ms) for
    deterministic bodies. parse_exposition(format_exposition(x)) == x
    for the supported subset (round-trip pinned in tests)."""
    lbl = F.filter(
        F.array_sort(F.map_entries(F.col("labels"))),
        lambda e: e.getField("key") != "__name__",
    )
    blob = F.array_join(
        F.transform(
            lbl,
            lambda e: F.concat(
                e.getField("key"), F.lit('="'), e.getField("value"), F.lit('"')
            ),
        ),
        ",",
    )
    name = F.col("labels").getItem("__name__")
    head = F.when(F.size(lbl) > 0, F.concat(name, F.lit("{"), blob, F.lit("}"))).otherwise(name)
    # %.17g-style shortest-roundtrip formatting isn't reachable from
    # Spark SQL; cast(double as string) is Java's shortest repr, which
    # parses back to the identical double — exactly what we need
    val = F.when(F.isnan(F.col("value")), F.lit("NaN")).when(
        F.col("value") == float("inf"), F.lit("+Inf")
    ).when(F.col("value") == float("-inf"), F.lit("-Inf")).otherwise(
        F.col("value").cast("string")
    )
    line = F.concat_ws(" ", head, val, *(
        [F.col("ts_ms").cast("string")] if with_ts else []
    ))
    return (
        samples.join(series, "series_id")
        .orderBy("series_id", "ts_ms")
        .select(line.alias("line"))
    )
