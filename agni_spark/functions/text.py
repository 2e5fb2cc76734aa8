"""Text-analysis operators for LLM training-data pipelines (north-star
extension tier; no counterpart in the reference — SURVEY §7 Phase 5).

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen); no Python UDFs. Every operator has a DuckDB
oracle twin in __spark_entry__ using the same arithmetic.

Scale: each operator is a narrow map over the documents fact table plus
at most one small aggregation — embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic heuristic marker words per language. The testdata's
# `text` uses a synthetic uniform vocabulary, so scores are driven by
# whatever markers do occur; the operator shape (per-language scoring +
# argmax with deterministic tie-break) is the real deliverable.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "query"],
    "de": ["der", "die", "und", "nicht"],
    "es": ["el", "la", "que", "de"],
    "fr": ["le", "la", "et", "les"],
    "zh": ["spark", "data", "value", "stream"],
}

STOPWORDS = ["the", "a", "b"]


def word_count(text: Column) -> Column:
    return F.size(F.split(text, " "))


def token_count(text: Column) -> Column:
    """BPE-ish token estimate: alnum runs + standalone punctuation."""
    return F.regexp_count(text, F.lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))


def _occurrences(text: Column, word: str) -> Column:
    """Whole-word occurrence count, regex-free arithmetic (identical
    semantics in any SQL engine): count of ' w ' in ' text '."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(" "))))
        / (len(needle) - 1)
    ).cast("long")


def _topk_ranked(df: DataFrame, order: list, k: int,
                 rank_name: str = "rk") -> DataFrame:
    """Distributed top-k + cosmetic rank (the promql.topk shape,
    `promql.py:topk`): `orderBy(...).limit(k)` compiles to Spark's
    TakeOrderedAndProject — each partition keeps its local top-k and
    only k rows per partition reach the driver-side merge — then the
    rank column is a row_number over ONLY the k survivors. The naive
    alternative (row_number over a global Window THEN filter rk<=k)
    moves the ENTIRE candidate set — for a frequent query term at
    100 TB, a corpus-proportional set — to one partition before
    ranking it. The k-row window is given an explicit constant
    partition key so WindowExec never plans a move-everything window
    (the input is k rows by construction; the key is cosmetic)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(0)).orderBy(*order)
    return (
        df.orderBy(*order).limit(k)
        .withColumn(rank_name, F.row_number().over(w).cast("int"))
    )


def _bucket_pred(terms, n_buckets: int):
    """Bucket-routing predicate for a probe's scan — WITHOUT a Spark
    job (round-14, guide §1.2/§6): `bucket == pmod(xxhash64(lit(t)),
    n_buckets)` is a FOLDABLE expression, so Catalyst evaluates the
    hash at plan time with the engine's own xxhash64 (driver and store
    can still never disagree) and the OR-of-equalities lands in the
    scan's PartitionFilters — the same static bucket-directory pruning
    as before (plan-asserted in tests/test_plans.py), minus the
    1-row-per-term collect() job every probe used to pay first."""
    import functools

    preds = [
        F.col("bucket")
        == F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)).cast("int")
        for t in sorted(set(terms))
    ]
    return functools.reduce(lambda a, b: a | b, preds)


def doc_stats(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Per-document quality metrics: counts + ratios + a quality score.

    quality = penalties for very short docs, high punctuation density
    and stopword stuffing — the usual cheap pre-filter ahead of
    model-based scoring.

    `keep` names extra input columns carried through unchanged, so a
    composite pipeline (e.g. quality gate + dedup hash) can fold its
    own columns into this single scan instead of re-reading the
    corpus."""
    text = F.col("text")
    n_words = word_count(text)
    n_stop = sum(_occurrences(text, w) for w in STOPWORDS)
    punct = F.regexp_count(text, F.lit("[^A-Za-z0-9\\s]"))
    out = docs.select(
        "doc_id",
        *keep,
        F.length(text).alias("n_chars_measured"),
        n_words.alias("n_words"),
        token_count(text).alias("n_tokens"),
        F.round(F.length(F.replace(text, F.lit(" "), F.lit(""))) / n_words, 6).alias(
            "avg_word_len"
        ),
        F.round(punct / F.length(text), 6).alias("punct_ratio"),
        F.round(n_stop / n_words, 6).alias("stopword_ratio"),
    )
    quality = (
        F.least(F.col("n_words") / F.lit(50.0), F.lit(1.0))
        * (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
        * (1 - F.least(F.col("stopword_ratio") * 2, F.lit(1.0)))
    )
    return out.withColumn("quality", F.round(quality, 6))


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: score = sum of whole-word marker hits;
    argmax with lexicographic tie-break (greatest(struct(score, lang
    DESC))-free formulation: explicit chained comparison)."""
    text = F.col("text")
    scores = {
        lang: sum(_occurrences(text, w) for w in markers).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", F.col("lang").alias("lang_meta"), *scores.values())
    langs = sorted(LANG_MARKERS)  # lexicographic tie-break order
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = None
    for lg in reversed(langs):  # earliest lang wins ties
        c = F.when(F.col(f"score_{lg}") == best, F.lit(lg))
        pred = c.otherwise(pred) if pred is not None else c
    return scored.select(
        "doc_id",
        "lang_meta",
        *[f"score_{lg}" for lg in langs],
        pred.alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text (the deterministic-hash stand-in for a rolling Rabin hash;
    same normalization as dedup.exact)."""
    norm = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    return docs.select(
        "doc_id", F.md5(norm).alias("fingerprint"), F.length(norm).alias("norm_len")
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Global top-k word n-grams: explode + one shuffle on the n-gram
    key (map-side combine), deterministic tie-break on the n-gram."""
    # split once into a materialized array — lambdas are interpreted,
    # so an inline split would re-split per window position (O(n^2))
    grams = F.expr(
        f"transform(sequence(1, greatest(size(w) - {n - 1}, 0)), "
        f"i -> concat_ws(' ', slice(w, i, {n})))"
    )
    return (
        docs.select(F.split(F.col("text"), " ").alias("w"))
        .where(F.size(F.col("w")) >= n)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "ngram")
        .limit(k)
    )


def repeated_passages(
    docs: DataFrame, window: int = 8, min_docs: int = 2, k: int = 50
) -> DataFrame:
    """ExactSubstr-lite (the dedup-repeated-substrings idea from the
    'Deduplicating Training Data Makes Language Models Better' line of
    work, done with hashes instead of suffix arrays): word windows of
    length `window` appearing in >= min_docs distinct documents. One
    explode + one shuffle on the window hash — no pairwise work.

    Returns the top-k repeated windows by document frequency with a
    sample window text (deterministic min), ordered for hashing.

    Words are split ONCE into a materialized array column; putting the
    split inside the transform lambda would re-split per window
    position (lambdas are interpreted — no subexpression elimination),
    i.e. O(words^2) character work per document."""
    grams = F.expr(
        f"transform(sequence(1, greatest(size(w) - {window - 1}, 0)), "
        f"i -> concat_ws(' ', slice(w, i, {window})))"
    )
    exploded = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .where(F.size(F.col("w")) >= window)
        .select("doc_id", F.explode(grams).alias("passage"))
    )
    # no pre-distinct: countDistinct dedupes (passage, doc) in the same
    # shuffle — a separate distinct would add a full extra exchange
    return (
        exploded.groupBy("passage")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), "passage")
        .limit(k)
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style rule filter (public Rae et al. 2021 heuristics,
    adapted to available signals): per doc, boolean pass/fail on
      - word count in [8, 100000]
      - mean word length in [1, 12]
      - symbol-to-word ratio <= 0.5
      - stopword presence (>= 1 hit of a common English stopword)
    plus the conjunction. Pure projections, no shuffle."""
    text = F.col("text")
    n_words = word_count(text)
    mean_wl = F.length(F.replace(text, F.lit(" "), F.lit(""))) / n_words
    symbols = F.regexp_count(text, F.lit("[#*\\.]{1,}|[^A-Za-z0-9\\s]"))
    n_stop = sum(_occurrences(text, w) for w in STOPWORDS)
    checks = {
        "ok_word_count": (n_words >= 8) & (n_words <= 100_000),
        "ok_word_len": (mean_wl >= 1.0) & (mean_wl <= 12.0),
        "ok_symbol_ratio": (symbols / n_words) <= 0.5,
        "ok_stopwords": n_stop >= 1,
    }
    out = docs.select(
        "doc_id", *[c.alias(name) for name, c in checks.items()]
    )
    passes = None
    for name in checks:
        passes = F.col(name) if passes is None else (passes & F.col(name))
    return out.withColumn("gopher_pass", passes)


# PII patterns restricted to the regex subset Java and RE2/DuckDB share
# (no backrefs, no lookaround) so oracle results match byte-for-byte.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "ssn_like": "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
}


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-document PII indicator counts (email / phone / IPv4 / SSN
    shapes) + the any-PII flag — the redaction pre-pass of a training
    pipeline. Pure regexp_count projections, no shuffle; at scale this
    pipelines with the scan and the flag prunes via predicate
    pushdown on the output table."""
    text = F.col("text")
    counts = {
        f"n_{name}": F.regexp_count(text, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }
    out = docs.select(
        "doc_id", *[c.alias(name) for name, c in counts.items()]
    )
    any_pii = None
    for name in counts:
        c = F.col(name) > 0
        any_pii = c if any_pii is None else (any_pii | c)
    return out.withColumn("has_pii", any_pii)


def contamination_scan(
    docs: DataFrame, probes: list[str], n: int = 6
) -> DataFrame:
    """Benchmark decontamination: find documents containing any probe
    n-gram (the standard train/test overlap check). Probes (the
    benchmark side) are tiny -> broadcast; documents explode to word
    n-grams ONCE and hash-join the probe set — never a scan per probe.

    Returns (doc_id, n_hits, probes_hit ordered) per contaminated doc."""
    spark = docs.sparkSession
    probe_df = F.broadcast(
        spark.createDataFrame([(p,) for p in probes], "probe string")
    )
    grams = F.expr(
        f"transform(sequence(1, greatest(size(w) - {n - 1}, 0)), "
        f"i -> concat_ws(' ', slice(w, i, {n})))"
    )
    exploded = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .where(F.size(F.col("w")) >= n)
        .select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
    )
    return (
        exploded.join(probe_df, exploded.gram == probe_df.probe)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            # '|'-joined sorted string (not array): hash-comparable
            # across engines
            F.concat_ws("|", F.array_sort(F.collect_set("probe"))).alias(
                "probes_hit"
            ),
        )
        .orderBy("doc_id")
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """CCNet-style language-model quality proxy: score each document by
    the mean negative log10 unigram probability of its words, with the
    unigram model estimated from the corpus itself. Low scores = text
    made of common words (fluent); high scores = rare-token soup — the
    standard LM-perplexity filtering signal with the corpus as its own
    model (swap in an external KenLM table offline for the real thing).

    Scale: the exploded words collapse to (doc, word) COUNTS first —
    one map-side-combining shuffle — so the model join and everything
    downstream runs over the distinct-per-doc vocabulary (bounded by
    vocab x docs) instead of the raw occurrence stream; at 100 TB that
    keeps the corpus's token volume out of the join entirely. The model
    itself is a groupBy over those counts (vocab-sized); scoring is a
    hash join on the word key and one per-doc weighted-mean
    aggregation. Word probabilities are exact rationals (integer
    counts), so per-word log10 values are bit-identical across
    engines; only the per-doc mean needs rounding (the weighted-sum
    formulation is mirrored verbatim in the DuckDB oracle so the
    float accumulation agrees)."""
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("w"),
    ).where(F.col("w") != "")
    doc_word = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("k"))
    freq = doc_word.groupBy("w").agg(F.sum("k").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))  # exact integer
    scored = doc_word.join(freq, "w").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(F.col("k") * F.log10(F.col("cnt") / F.col("total")))
                / F.sum("k"),
                6,
            ).alias("nll10"),
            F.sum("k").alias("n_words"),
        )
        .orderBy("doc_id")
    )


# -- curation: sampling, splits, packing ------------------------------------
def split_assign(docs: DataFrame, test_pct: int = 10) -> DataFrame:
    """Deterministic train/test split: a doc's split follows its
    md5-derived hash mod 100 — stable across runs, engines and
    cluster sizes (never rand(): a reshuffle would leak test docs into
    train). Pure projection, no shuffle."""
    from agni_spark.functions.dedup import hash60

    bucket = hash60(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def stratified_sample(
    docs: DataFrame, fractions: dict[str, int], key: str = "lang"
) -> DataFrame:
    """Deterministic stratified downsample: keep a doc iff its hash
    bucket (md5 mod 100) falls under its stratum's percentage —
    hash-based Bernoulli per stratum, so the sample is reproducible
    and composable with split_assign (independent salts). Strata
    absent from `fractions` are dropped; 100 keeps everything. The
    filter is a pure projection — at 100 TB this is the map-side
    door-policy every curation pipeline starts with."""
    from agni_spark.functions.dedup import hash60

    bucket = hash60(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))) % 100
    pct = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )[F.col(key)]
    return docs.where(pct.isNotNull() & (bucket < pct))


def pack_sequences(
    docs: DataFrame, max_tokens: int = 2048, by: str | None = None
) -> DataFrame:
    """Greedy sequence packing for training batches: docs in doc_id
    order accumulate into a sequence until the next doc would overflow
    `max_tokens`; oversized docs get a sequence of their own. seq_id =
    number of completed sequences before the doc — computed with ONE
    window pass via the bin-boundary trick: a boundary is any doc
    whose cumulative token count crosses a multiple of max_tokens...
    greedy packing is inherently sequential, so it runs as a running-
    total window per partition group (`by`, e.g. lang) — at scale pick
    a grouping with bounded cardinality per group, exactly like any
    sessionization.

    Returns (doc_id, n_tokens, seq_id, seq_pos)."""
    from pyspark.sql import Window

    part = [by] if by else []
    w = (
        Window.partitionBy(*part)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = F.least(token_count(F.col("text")), F.lit(max_tokens))
    base = docs.select(
        *(part), "doc_id", toks.cast("long").alias("n_tokens")
    )
    # greedy boundary recurrence is not a plain prefix sum, but with
    # every n_tokens <= max_tokens it IS equivalent to: seq changes
    # when floor(cum/max) changes, where cum is the running total of a
    # bin-reset-free accumulation... the exact greedy needs the reset;
    # implement it exactly with one aggregate fold over the collected
    # group (bounded by `by` cardinality) — mirrored by the oracle.
    grp = base.groupBy(*part).agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_tokens"))
        ).alias("xs")
    )
    packed = F.aggregate(
        F.col("xs"),
        F.struct(
            F.lit(0).cast("long").alias("fill"),
            F.lit(0).cast("long").alias("seq"),
            F.array().cast(
                "array<struct<doc_id:bigint,n_tokens:bigint,seq_id:bigint,seq_pos:bigint>>"
            ).alias("out"),
        ),
        lambda acc, x: F.struct(
            F.when(
                acc.getField("fill") + x.getField("n_tokens") > max_tokens,
                x.getField("n_tokens"),
            )
            .otherwise(acc.getField("fill") + x.getField("n_tokens"))
            .alias("fill"),
            F.when(
                acc.getField("fill") + x.getField("n_tokens") > max_tokens,
                acc.getField("seq") + 1,
            )
            .otherwise(acc.getField("seq"))
            .alias("seq"),
            F.concat(
                acc.getField("out"),
                F.array(
                    F.struct(
                        x.getField("doc_id").alias("doc_id"),
                        x.getField("n_tokens").alias("n_tokens"),
                        F.when(
                            acc.getField("fill") + x.getField("n_tokens")
                            > max_tokens,
                            acc.getField("seq") + 1,
                        )
                        .otherwise(acc.getField("seq"))
                        .alias("seq_id"),
                        F.when(
                            acc.getField("fill") + x.getField("n_tokens")
                            > max_tokens,
                            x.getField("n_tokens"),
                        )
                        .otherwise(
                            acc.getField("fill") + x.getField("n_tokens")
                        )
                        .alias("seq_pos"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc.getField("out"),
    )
    return (
        grp.select(*(part), F.explode(packed).alias("p"))
        .select(
            *(part),
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.n_tokens").alias("n_tokens"),
            F.col("p.seq_id").alias("seq_id"),
            F.col("p.seq_pos").alias("seq_pos"),
        )
        .orderBy(*(part), "doc_id")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword search over the corpus (Robertson/Sparck-Jones
    probabilistic ranking, Lucene-style idf = ln(1 + (N-df+0.5)/
    (df+0.5))): top-k documents for a bag of query terms.

    Spark shape: ONE explode of the corpus feeds both the doc-length
    table and the (early-filtered) query-term postings; df-per-term and
    the corpus stats are tiny aggregates that broadcast back into the
    scoring join — so the only full-corpus work is the explode + two
    groupBys, and everything downstream is proportional to the posting
    lists of the query terms (exactly an inverted index probe). At
    100 TB the words explode is the map side of the doc-length agg;
    no shuffle carries more than (doc, matched-term) rows.

    Determinism: per-(doc,term) scores and the final sum are
    discretized with floor(x*1e6 + 0.5)/1e6 (identical IEEE expression
    tree in the DuckDB oracle) so cross-engine sum-order cannot flip a
    6dp rounding tie."""
    from pyspark.sql import Window

    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    # persist: feeds doc-lengths AND the postings probe — one explode
    words = words.persist()
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        words.where(F.col("w").isin(list(query_terms)))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    term_score = F.floor(
        (
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
            )
        )
        * 1e6
        + 0.5
    ) / 1e6
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("s"))
    )
    total = scored.groupBy("doc_id").agg(
        (F.floor(F.sum("s") * 1e6 + 0.5) / 1e6).alias("score")
    )
    order = [F.col("score").desc(), F.col("doc_id")]
    return _topk_ranked(total, order, k, "rank").orderBy("rank")


def tfidf_keywords(docs: DataFrame, top: int = 3) -> DataFrame:
    """Top-N characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, the sklearn smoothing — never
    divides by zero, never goes negative). The whole corpus statistics
    pass is two map-side-combining aggregations over one explode; the
    per-doc top-N is a window over only (doc, distinct-term) rows.
    Deterministic: ties break on the term string; scores discretized
    at 6dp with the same floor(x*1e6+0.5) expression as the oracle."""
    from pyspark.sql import Window

    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    tf = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n_docs = docs.select(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    score = F.floor(
        F.col("tf")
        * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
        * 1e6
        + 0.5
    ) / 1e6
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    return (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= top)
        .select("doc_id", F.col("w").alias("term"), "score", "rk")
        .orderBy("doc_id", "rk")
    )


def pmi_bigrams(docs: DataFrame, k: int = 20, min_count: int = 5) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    PMI(a,b) = ln( (c_ab/B) / ((c_a/N)(c_b/N)) ) over corpus bigram/
    unigram counts (the classic Church & Hanks association measure).
    Whole pipeline = one explode for unigrams + one for bigrams, two
    map-side-combining counts, broadcast scalars; 6dp floor-discretized
    so cross-engine division order can't flip the ranking ties (rank
    breaks on the pair text anyway)."""
    from pyspark.sql import Window

    w = docs.select(F.split(F.col("text"), " ").alias("w"))
    uni = (
        w.select(F.explode("w").alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    bi = (
        w.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS a, "
                    "element_at(w, i + 1) AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .where((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    totals = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bi.agg(F.sum("c_ab").alias("n_bi"))
    )
    pmi = F.floor(
        F.log(
            (F.col("c_ab") / F.col("n_bi"))
            / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni")))
        )
        * 1e6
        + 0.5
    ) / 1e6
    scored = (
        bi.join(uni.select(F.col("t").alias("a"), F.col("c").alias("ca")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("c").alias("cb")), "b")
        .crossJoin(F.broadcast(totals))
        .withColumn("pmi", pmi)
    )
    order = [F.col("pmi").desc(), F.col("a"), F.col("b")]
    return (
        _topk_ranked(scored, order, k)
        .select("a", "b", F.col("c_ab").cast("long").alias("n"), "pmi", "rk")
        .orderBy("rk")
    )


def mixture_sample(
    docs: DataFrame,
    targets: dict[str, float],
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic mixture sampling: subsample the corpus so stratum
    proportions hit `targets` (the data-mixture step of LLM training
    recipes — e.g. rebalance languages/domains to recipe weights)
    WITHOUT upsampling: the feasible total is min_s(n_s / w_s), each
    stratum keeps floor(w_s * T) documents, chosen by md5-hash rank
    (stable across runs/engines/partitionings — never rand()).

    One count aggregate + one broadcast of the O(#strata) quota table +
    one rank window per stratum. Strata absent from `targets` are
    dropped (weight 0)."""
    from pyspark.sql import Window

    from agni_spark.functions.dedup import hash60

    spark = docs.sparkSession
    w = spark.createDataFrame(
        sorted(targets.items()), f"{stratum_col} string, wt double"
    )
    counts = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n"))
    feas = (
        counts.join(w, stratum_col)
        .agg(F.min(F.col("n") / F.col("wt")).alias("t"))
    )
    quota = (
        w.crossJoin(F.broadcast(feas))
        .select(
            stratum_col,
            F.floor(F.col("wt") * F.col("t")).cast("long").alias("quota"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy(stratum_col).orderBy(
            hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
            F.col("doc_id"),
        )
    )
    return (
        docs.join(F.broadcast(quota), stratum_col)
        .withColumn("_rk", rk)
        .where(F.col("_rk") <= F.col("quota"))
        .select("doc_id", stratum_col)
        .orderBy("doc_id")
    )


def keyword_snippets(
    docs: DataFrame, term: str, context: int = 3
) -> DataFrame:
    """Keyword-in-context snippets (search-result highlighting): for
    every document containing `term` as a whole word, the ±`context`
    words around its FIRST occurrence. Pure array expressions —
    split once, array_position finds the hit, slice cuts the window —
    no regex backtracking, no UDF; at scale this is a narrow map over
    only the matching docs (the filter prunes first)."""
    pos = F.array_position(F.col("w"), term)  # 1-based, 0 = absent
    start = F.greatest(F.col("pos") - context, F.lit(1))
    # slice length: from start through pos+context, clamped by size
    length = F.least(F.col("pos") + context, F.size(F.col("w"))) - start + 1
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .withColumn("pos", pos)
        .where(F.col("pos") > 0)
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.concat_ws(
                " ", F.slice(F.col("w"), start, length)
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Bigram language-model quality score (the CCNet/perplexity-filter
    idea one order up from unigram_logprob): per-doc mean negative
    log10 likelihood under an add-one-smoothed corpus bigram model,
    P(b|a) = (c(a,b) + 1) / (ctx(a) + V), ctx(a) = a's count as a
    predecessor, V = vocabulary size. All counts are exact integers
    joined once per (doc, a, b) — the explode never shuffles twice —
    and the two scalar stats broadcast. Lower = more natural text under
    the corpus's own statistics."""
    w = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    doc_bi = (
        w.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS a, "
                    "element_at(w, i + 1) AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
        .where((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("doc_id", "a", "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    corpus_bi = doc_bi.groupBy("a", "b").agg(F.sum("k").alias("cab"))
    ctx = corpus_bi.groupBy("a").agg(F.sum("cab").alias("ctx"))
    vocab = (
        w.select(F.explode("w").alias("t"))
        .where(F.col("t") != "")
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    nll = -F.sum(
        F.col("k")
        * F.log10(
            (F.col("cab") + 1.0) / (F.col("ctx") + F.col("v"))
        )
    ) / F.sum("k")
    return (
        doc_bi.join(corpus_bi, ["a", "b"])
        .join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(nll, 6).alias("nll10_bigram"),
            F.sum("k").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


# -- stored inverted index ---------------------------------------------------
# The TSDB tier materializes its postings (label -> series) as the
# index section of a block; this is the same design at the documents
# tier: term postings written physically partitioned on a hash bucket
# of the term, manifest-committed like the block store, so a k-term
# search scans <= k bucket directories instead of the corpus.
def write_text_index(
    docs: DataFrame, path: str, n_buckets: int = 16,
    positions: bool = False,
) -> None:
    """Build + persist an inverted text index:
      postings/  parquet partitioned by (commit, bucket): (w, doc_id, tf)
      doclens/   partitioned by commit: (doc_id, dl)
      positions/ OPTIONAL (positions=True), partitioned by
                 (commit, bucket): (w, doc_id, pos) — one row per term
                 OCCURRENCE (0-based raw-split token position), the
                 positional layer phrase queries intersect
                 (phrase_topk_indexed)
      meta/      (n_buckets) — probe-side bucket routing
      manifest/  commit marker, written LAST (block-store registry
                 pattern: a crashed build/append is never served)
    bucket = pmod(xxhash64(w), n_buckets): a term's ENTIRE posting list
    (and its position list) lives in one bucket directory, so probes
    prune statically on the bucket list of the query terms. BM25 corpus
    stats (df, n_docs, avgdl) are NOT stored — they are recomputed from
    the committed partitions at probe time, so appends stay exactly
    consistent. Whether the index is positional is recorded by the
    existence of positions/ itself (append_text_index keys off it), so
    the meta schema never forks."""
    from agni_spark.functions.simsearch import _write_index_manifest

    spark = docs.sparkSession
    _append_postings(
        docs, path, n_buckets, commit=0, mode="overwrite",
        positions=positions,
    )
    spark.createDataFrame(
        [(int(n_buckets),)], "n_buckets int"
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/meta")
    _write_index_manifest(spark, path, [0])


def _append_postings(
    docs: DataFrame, path: str, n_buckets: int, commit: int, mode: str,
    positions: bool = False,
) -> None:
    # posexplode, not explode: the 0-based raw-split position rides
    # along for free and feeds the optional positional layer; the
    # tf/doclen aggregations below just ignore it
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).where(F.col("w") != "")
    words = words.persist()  # feeds postings AND doclens — one explode

    def _write(df, part):
        w = df.write.partitionBy(*part)
        if mode == "append":
            # dynamic partition overwrite, not raw append: a crashed-
            # then-replayed append recomputes the same commit id and
            # must REPLACE the crashed attempt's files, not double
            # rows (same replay contract as the ivf/lsh/graph/minhash
            # index appends)
            w = w.option("partitionOverwriteMode", "dynamic").mode(
                "overwrite"
            )
        else:
            w = w.mode(mode)
        return w

    tf = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("w"), F.lit(n_buckets)).cast("int"),
        )
        .withColumn("commit", F.lit(commit).cast("long"))
    )
    _write(tf.repartition("bucket"), ["commit", "bucket"]).parquet(
        f"{path}/postings"
    )
    _write(
        words.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("dl"))
        .withColumn("commit", F.lit(commit).cast("long")),
        ["commit"],
    ).parquet(f"{path}/doclens")
    if positions:
        pos = (
            words.select(
                "w", "doc_id", F.col("pos").cast("int").alias("pos")
            )
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("w"), F.lit(n_buckets)).cast("int"),
            )
            .withColumn("commit", F.lit(commit).cast("long"))
        )
        _write(pos.repartition("bucket"), ["commit", "bucket"]).parquet(
            f"{path}/positions"
        )
    words.unpersist()


def _postings_stage(spark, path: str, new_docs: DataFrame):
    """The text family's stage for simsearch._commit: posting lists +
    doc lengths of ONLY the new documents under `commit=nxt`. A
    positional index stays positional: the layer's existence IS the
    flag (build-time choice; appending non-positionally to a
    positional index would silently break phrase queries over the
    appended docs)."""
    from agni_spark.sources.layout import _fs_exists

    n_buckets = spark.read.parquet(f"{path}/meta").collect()[0].n_buckets
    return lambda nxt, _commits: _append_postings(
        new_docs, path, n_buckets, commit=nxt, mode="append",
        positions=_fs_exists(spark, f"{path}/positions"),
    )


def append_text_index(
    spark, path: str, new_docs: DataFrame, batch_id: int | None = None,
    app_id: str | None = None, _race_hook=None,
) -> int | None:
    """Incremental index maintenance: posting lists + doc lengths of
    ONLY the new documents land in a fresh commit partition; the
    manifest rewrite LAST is the commit point. Nothing existing is
    read or rewritten — append cost is O(new docs), not O(index).
    `_race_hook` is the deterministic concurrency fault-injection
    seam (see simsearch._commit): runs after claim+staging, before
    the manifest CAS. Returns the commit id.

    `batch_id` (streaming callers — stream_text_index): the replay
    contract of simsearch._commit — the micro-batch id is recorded in
    the manifest atomically with the commit, and a replay whose
    previous attempt already reached the manifest is skipped
    (foreachBatch ids are monotone; returns None), so a crash on
    either side of the manifest write stays exactly-once."""
    from agni_spark.functions.simsearch import TEXT_INDEX_SUBDIRS, _commit

    return _commit(
        spark, path, TEXT_INDEX_SUBDIRS, _postings_stage(spark, path, new_docs),
        batch_id=batch_id, app_id=app_id, race_hook=_race_hook,
    )


def upsert_text_index(
    spark, path: str, new_docs: DataFrame, batch_id: int | None = None,
    app_id: str | None = None,
) -> int | None:
    """UPSERT (replace-or-insert) documents in a stored text index,
    round 11 — the text twin of simsearch.upsert_ivf_index: one atomic
    commit writes a horizon-scoped doc_id tombstone (hides the docs'
    OLDER postings/doclens/positions rows only) plus the replacement
    docs' fresh posting lists. BM25 statistics stay survivor-exact for
    free: the probe's scoped anti-join removes the superseded doclens
    rows before the n_docs/avgdl/df fold, so a replaced document is
    counted exactly once, with its new length. Ids new to the corpus
    simply insert. Upsert cost is O(new docs); compact_index is the
    physical cleanup (scrubs all three doc_id-keyed subdirs, consumes
    the tombstone). Crash contract: tombstones + postings land before
    the manifest append; a replay recomputes the same commit id and
    dynamic-partition-overwrites. Returns the new commit id.

    `batch_id` (streaming callers — stream_text_index(mode='upsert')):
    the applied-id check runs BEFORE anything is written (see
    simsearch._commit) — a replay whose previous attempt already
    reached the manifest would otherwise re-write the scoped tombstone
    under a NEW commit id, hiding the original attempt's replacement
    postings. Returns None when the batch was already applied."""
    from agni_spark.functions.simsearch import TEXT_INDEX_SUBDIRS, _commit

    return _commit(
        spark, path, TEXT_INDEX_SUBDIRS + [("tombstones", None)],
        _postings_stage(spark, path, new_docs), batch_id=batch_id,
        app_id=app_id, scoped=(new_docs, "doc_id"),
    )


def clone_text_index(
    spark, src: str, dst: str, as_of: int | None = None
) -> None:
    """Deep-clone a stored text index (see simsearch.clone_index):
    the committed snapshot's postings/doclens/positions fold into a
    single commit at a NEW path — doc_id tombstones applied, so the
    clone physically holds only surviving documents — plus the flat
    n_buckets meta, manifest last. `as_of=N` clones a historical
    snapshot (branch-at-commit-N)."""
    from agni_spark.functions.simsearch import TEXT_INDEX_SUBDIRS, clone_index

    clone_index(
        spark, src, dst, TEXT_INDEX_SUBDIRS, aux=("meta",), as_of=as_of
    )


def rebucket_text_index(
    spark, src: str, dst: str, n_buckets: int
) -> None:
    """RESIZE a stored text index's bucket count — the text family's
    reindex (completing the measure->reindex loop simsearch closed for
    the four vector families): the bucket count is the index's one
    frozen layout parameter, chosen at build time, and a corpus that
    grew 100x under appends leaves each bucket directory carrying 100x
    the posting rows a probe must scan per term. The original
    documents are NOT needed: posting rows (w, doc_id, tf) and
    position rows (w, doc_id, pos) are bucket-ROUTED, not
    bucket-derived, so the rebuild reads the committed rows, scrubs
    doc_id tombstones (physical delete, like a clone), recomputes
    bucket = pmod(xxhash64(w), new_n) and folds everything into
    commit=0 at `dst` — meta carries the new n_buckets, manifest
    written LAST (a crashed rebucket leaves dst unopenable). Pinned
    probe-identical to the source AND physically identical to a fresh
    build at the new bucket count over the same corpus (same rows,
    same routing function).

    Scale: one re-clustered pass per present subdir (the compaction
    fold with a different routing key); src stays live and probeable
    throughout — cutover is the caller swapping paths."""
    from agni_spark.functions.simsearch import (
        _anti_tombstones,
        _clear_clone_dst,
        _committed,
        _tombstones,
        _write_index_manifest,
    )
    from agni_spark.sources.layout import _hfs

    commits = _committed(spark, src)
    tombs = _tombstones(spark, src, commits)
    _clear_clone_dst(spark, dst, [("postings", None), ("doclens", None),
                                  ("positions", None)])
    new_bucket = F.pmod(F.xxhash64("w"), F.lit(int(n_buckets))).cast("int")
    for sub in ("postings", "doclens", "positions"):
        fs, P = _hfs(spark, f"{src}/{sub}")
        if not fs.exists(P(f"{src}/{sub}")):
            continue
        df = spark.read.parquet(f"{src}/{sub}").where(
            F.col("commit").isin(commits)
        )
        if tombs is not None:
            df = _anti_tombstones(df, tombs)
        df = df.drop("commit").withColumn("commit", F.lit(0).cast("long"))
        if sub == "doclens":
            part, shaped = ["commit"], df.repartition(1)
        else:
            df = df.drop("bucket").withColumn("bucket", new_bucket)
            part, shaped = ["commit", "bucket"], df.repartition("bucket")
        shaped.write.partitionBy(*part).mode("overwrite").parquet(
            f"{dst}/{sub}"
        )
    spark.createDataFrame(
        [(int(n_buckets),)], "n_buckets int"
    ).repartition(1).write.mode("overwrite").parquet(f"{dst}/meta")
    _write_index_manifest(spark, dst, [0])


class TextIndexHandle:
    """An OPENED stored text index: n_buckets + the committed-commit
    list resolved once — the text twin of Graph/PQIndexHandle. Probes
    through a handle skip the per-call meta/manifest reads; the handle
    pins the manifest snapshot read at open (reopen to see appends).
    `as_of` pins an older snapshot (time travel): BM25 corpus stats
    (n_docs/avgdl/df) fold over the pinned commits only, so a
    historical probe scores against the historical corpus."""

    def __init__(self, spark, path: str, as_of: int | None = None):
        from agni_spark.functions.simsearch import (
            _snapshot_commits,
            _tombstones,
        )

        self.path = path
        self.n_buckets = int(
            spark.read.parquet(f"{path}/meta").collect()[0].n_buckets
        )
        self.commits = _snapshot_commits(spark, path, as_of)
        # doc_id tombstones (delete_from_index(id_col='doc_id')) —
        # None on the common tombstone-free index
        self.tombstones = _tombstones(spark, path, self.commits)


def open_text_index(
    spark, path: str, as_of: int | None = None
) -> TextIndexHandle:
    """Open a stored text index for repeated probing (see
    TextIndexHandle). `as_of=N` opens the commit-N snapshot."""
    return TextIndexHandle(spark, path, as_of=as_of)


def bm25_topk_indexed(
    spark,
    index,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 search served FROM the stored index: identical results (and
    oracle) to bm25_topk over the same corpus, but the corpus is never
    scanned — the postings read statically prunes to the <= len(terms)
    bucket directories of the query terms (term -> bucket via the same
    xxhash64 the writer used, computed in a 1-row-per-term Spark job so
    driver and store can never disagree on the hash).

    `index` is a path or an open TextIndexHandle (serving callers
    open once, probe many).

    DELETES (round 11): doc_id tombstones
    (simsearch.delete_from_index(id_col='doc_id')) drop from BOTH the
    postings and the doclens scans BEFORE the corpus stats fold, so
    n_docs / avgdl / per-term df are computed over the SURVIVING
    corpus — the served BM25 is exactly BM25 over the documents that
    still exist, not a rank-time mask over stale statistics. One
    anti-join per scan; the tombstone set stays small between
    compactions (generic compact_index scrubs doc_id-keyed subdirs
    and consumes the tombstones)."""
    from pyspark.sql import Window

    h = index if isinstance(index, TextIndexHandle) else TextIndexHandle(
        spark, index
    )
    path, n_buckets, commits = h.path, h.n_buckets, h.commits
    from agni_spark.functions.simsearch import _anti_tombstones

    # `commit` rides to the tombstone anti-join: the exclusion is
    # horizon-scoped (upsert_text_index replaces a doc's postings —
    # only the OLDER rows hide), then projected away. Bucket routing
    # is a foldable scan predicate (_bucket_pred) — no per-probe job.
    post = (
        spark.read.parquet(f"{path}/postings")
        .where(
            F.col("commit").isin(commits)
            & _bucket_pred(query_terms, n_buckets)
        )
        .where(F.col("w").isin(list(query_terms)))
        .select("doc_id", "w", "tf", "commit")
    )
    dl = (
        spark.read.parquet(f"{path}/doclens")
        .where(F.col("commit").isin(commits))
        .select("doc_id", "dl", "commit")
    )
    post = _anti_tombstones(post, h.tombstones).drop("commit")
    dl = _anti_tombstones(dl, h.tombstones).drop("commit")
    post = post.persist()  # feeds df-per-term AND the scoring join
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = post.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    term_score = F.floor(
        (
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
            )
        )
        * 1e6
        + 0.5
    ) / 1e6
    scored = (
        post.join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("s"))
    )
    total = scored.groupBy("doc_id").agg(
        (F.floor(F.sum("s") * 1e6 + 0.5) / 1e6).alias("score")
    )
    order = [F.col("score").desc(), F.col("doc_id")]
    return _topk_ranked(total, order, k).orderBy("rk")


def phrase_search(docs: DataFrame, phrase: str, k: int = 10) -> DataFrame:
    """Exact-phrase search by token adjacency, scan-served: the top-k
    documents by OCCURRENCE COUNT of `phrase` as a run of adjacent
    raw-split tokens (the correctness twin of phrase_topk_indexed —
    identical results, identical oracle). Output: (doc_id, n_hits, rk),
    ties on doc_id.

    Spark shape: one n-gram explode per document (slice over the
     1-based token array, exactly the repeated_passages plan) filtered
    to the query phrase BEFORE the shuffle — so the only full-corpus
    work is the tokenize+slice map side; the groupBy carries only
    matching (doc, start) rows. A corpus scan per query is the honest
    cost of the scan path; the positional index below is the serving
    path."""
    from pyspark.sql import Window

    terms = phrase.split(" ")
    n = len(terms)
    w = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).where(F.size("w") >= n)
    grams = w.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("w") - n + 1)
        ).alias("i"),
        "w",
    ).where(
        F.array_join(F.slice(F.col("w"), F.col("i"), n), " ") == phrase
    )
    hits = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    order = [F.col("n_hits").desc(), F.col("doc_id")]
    return _topk_ranked(hits, order, k).orderBy("rk")


def phrase_topk_indexed(
    spark, index, phrase: str, k: int = 10
) -> DataFrame:
    """Exact-phrase search served FROM the stored index's positional
    layer (write_text_index(positions=True)): identical results (and
    oracle) to phrase_search over the same corpus, but the corpus is
    never scanned — the positions read statically prunes to the
    <= len(terms) bucket directories of the phrase terms, and the
    classic positional-index intersection does the rest: occurrences of
    term_i shifted left by i must collide on (doc_id, start). One
    equi-join per phrase term past the first, each carrying only
    posting-list-sized rows (AQE broadcasts the small sides); the
    occurrence count + top-k rank touch only matched docs. Positions
    are 0-based raw-split offsets, consistent across commits because a
    document lives entirely in one append.

    DELETES: doc_id tombstones (simsearch.delete_from_index(
    id_col='doc_id')) are anti-joined out of the positions scan before
    the intersection, so a deleted document can never match; compaction
    scrubs positions/ physically like every doc_id-keyed subdir.

    `index` is a path or an open TextIndexHandle. Raises ValueError on
    an index built without the positional layer — a phrase probe
    silently degrading to nothing would be a correctness trap."""
    from pyspark.sql import Window

    from agni_spark.sources.layout import _hfs

    h = index if isinstance(index, TextIndexHandle) else TextIndexHandle(
        spark, index
    )
    path, n_buckets, commits = h.path, h.n_buckets, h.commits
    fs, P = _hfs(spark, f"{path}/positions")
    if not fs.exists(P(f"{path}/positions")):
        raise ValueError(
            f"text index at {path} has no positional layer — build with "
            "write_text_index(positions=True) to serve phrase queries"
        )
    terms = phrase.split(" ")
    from agni_spark.functions.simsearch import _anti_tombstones

    # bucket routing via the foldable predicate — no per-probe job
    pos = (
        spark.read.parquet(f"{path}/positions")
        .where(
            F.col("commit").isin(commits) & _bucket_pred(terms, n_buckets)
        )
        .where(F.col("w").isin(list(set(terms))))
        .select("w", "doc_id", "pos", "commit")
    )
    pos = _anti_tombstones(pos, h.tombstones).drop("commit")
    if len(terms) > 1:
        pos = pos.persist()  # each term's occurrence list reads it
    starts = pos.where(F.col("w") == terms[0]).select(
        "doc_id", F.col("pos").alias("start")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = pos.where(F.col("w") == t).select(
            "doc_id", (F.col("pos") - i).alias("start")
        )
        starts = starts.join(nxt, ["doc_id", "start"])
    hits = starts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    order = [F.col("n_hits").desc(), F.col("doc_id")]
    return _topk_ranked(hits, order, k).orderBy("rk")


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher REPETITION filters (Rae et al. 2021 Table A1 — the
    within-document half gopher_rules doesn't cover): per doc,
      - top_{2,3,4}gram_frac: fraction of the document's characters
        contained in its single most frequent word n-gram
        (count * n-gram length / doc length), thresholds 0.20/0.18/0.16
      - dup_5gram_frac: fraction of characters contained in 5-grams
        that occur more than once (sum of count * length over duplicated
        grams / doc length, capped at 1 — overlapping occurrences are
        counted per occurrence, the standard simplification),
        threshold 0.15
    plus `repetition_pass`, the conjunction. Docs shorter than n words
    score 0 for that n (nothing repeats).

    ONE explode over all four n levels tagged by n, one (doc, n, gram)
    count, one per-doc conditional aggregation — two shuffles total
    regardless of how many n levels are measured."""
    w = docs.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars_doc"),
        F.split(F.col("text"), " ").alias("w"),
    )
    levels = []
    for n in (2, 3, 4, 5):
        grams = F.when(
            F.size("w") >= n,
            F.expr(
                f"transform(sequence(1, size(w) - {n - 1}), "
                f"i -> concat_ws(' ', slice(w, i, {n})))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        levels.append(
            F.struct(F.lit(n).alias("n"), grams.alias("grams"))
        )
    tagged = (
        w.select(
            "doc_id", "n_chars_doc", F.explode(F.array(*levels)).alias("lv")
        )
        .select(
            "doc_id", "n_chars_doc", F.col("lv.n").alias("n"),
            F.explode(F.col("lv.grams")).alias("gram"),
        )
    )
    counts = tagged.groupBy("doc_id", "n_chars_doc", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    covered = F.col("cnt") * F.length(F.col("gram"))

    def _top(n: int):
        return F.round(
            F.max(F.when(F.col("n") == n, covered).otherwise(F.lit(0)))
            / F.col("n_chars_doc"),
            6,
        )

    dup5 = F.round(
        F.least(
            F.sum(
                F.when(
                    (F.col("n") == 5) & (F.col("cnt") > 1), covered
                ).otherwise(F.lit(0))
            )
            / F.col("n_chars_doc"),
            F.lit(1.0),
        ),
        6,
    )
    per_doc = counts.groupBy("doc_id", "n_chars_doc").agg(
        _top(2).alias("top2gram_frac"),
        _top(3).alias("top3gram_frac"),
        _top(4).alias("top4gram_frac"),
        dup5.alias("dup5gram_frac"),
    )
    # left join back so word-poor docs (no grams at any level) still
    # report zeros instead of disappearing
    out = (
        docs.select("doc_id")
        .join(per_doc.drop("n_chars_doc"), "doc_id", "left")
        .fillna(0.0)
    )
    passes = (
        (F.col("top2gram_frac") <= 0.20)
        & (F.col("top3gram_frac") <= 0.18)
        & (F.col("top4gram_frac") <= 0.16)
        & (F.col("dup5gram_frac") <= 0.15)
    )
    return out.withColumn("repetition_pass", passes).orderBy("doc_id")


def redact_terms(
    docs: DataFrame, terms: list[str], placeholder: str = "[REDACTED]"
) -> DataFrame:
    """Blocklist redaction — the masking pass of a curation pipeline
    (PII shapes are covered by pii_scan; this is the term-level
    variant used for denylisted strings). Word-boundary alternation,
    global replace, plus the per-doc redaction count. One regex
    projection, no shuffle; the pattern stays in the Java∩RE2∩DuckDB
    subset (alternation + \\b only). Terms are treated as LITERAL
    strings: regex metacharacters are escaped (a denylist entry like
    'c++' or 'a.b' must not corrupt the alternation or miscount), and
    an empty/blank term list is rejected rather than compiling the
    degenerate pattern '\\b()\\b'."""
    if not terms or any(t == "" for t in terms):
        raise ValueError("redact_terms needs at least one non-empty term")

    def _esc(t: str) -> str:
        # conservative escape set valid in Java, RE2 and DuckDB regex
        return "".join(
            ("\\" + c) if c in "\\.^$|?*+()[]{}" else c for c in t
        )

    def _word(c: str) -> bool:
        return c.isalnum() or c == "_"

    def _alt(t: str) -> str:
        # \b only binds between a word and a non-word char, so anchor
        # each term edge only where the edge IS a word char ('c++'
        # gets a leading \b and no trailing one)
        return (
            ("\\b" if _word(t[0]) else "")
            + _esc(t)
            + ("\\b" if _word(t[-1]) else "")
        )

    pat = "(" + "|".join(_alt(t) for t in terms) + ")"
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_replace(text, pat, placeholder).alias("redacted"),
        F.regexp_count(text, F.lit(pat)).alias("n_redactions"),
    )


def chunk_windows(
    docs: DataFrame, size: int = 120, stride: int = 80
) -> DataFrame:
    """RAG-style chunking: overlapping character windows per document
    with their offsets — (doc_id, chunk_idx, start_char, chunk, n_chars).
    One sequence-explode (no shuffle); chunk count per doc is
    ceil((len - overlap) / stride) so every char is covered and the
    final partial window is kept. At 100 TB this is the classic
    pipelines-with-the-scan map; downstreams (embedding, indexing) key
    on (doc_id, chunk_idx)."""
    n = F.length(F.col("text"))
    last = F.greatest(
        F.lit(0), F.ceil((n - F.lit(size)) / F.lit(stride)).cast("long")
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), last)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * stride).alias("start_char"),
            F.col("text")
            .substr(
                (F.col("chunk_idx") * stride + 1).cast("int"),
                F.lit(size),
            )
            .alias("chunk"),
        )
        .withColumn("n_chars", F.length("chunk"))
        .where(F.col("n_chars") > 0)
        .orderBy("doc_id", "chunk_idx")
    )


def dedup_passages_rewrite(
    docs: DataFrame, window: int = 8, min_docs: int = 2
) -> DataFrame:
    """ExactSubstr REWRITE (the action to repeated_passages' report):
    strip from every document the word positions covered by any
    `window`-gram that occurs in >= min_docs distinct documents — the
    'Deduplicating Training Data Makes Language Models Better'
    boilerplate-removal pass, strip-all variant (every occurrence is
    removed; the keep-one-copy variant is a policy layer on top).

    Spark shape: one windows explode finds the repeated grams (same
    single shuffle as repeated_passages, no top-k cap), one positions
    explode marks covered word slots, one anti-join keeps the rest,
    one ordered re-agg rebuilds the text. Everything keys on
    (doc_id, position) or the gram hash — no pairwise doc work at any
    scale."""
    words = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " "))
    ).select(
        "doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("w")
    )
    grams = F.expr(
        f"transform(sequence(1, greatest(size(w) - {window - 1}, 0)), "
        f"i -> struct(i AS i, concat_ws(' ', slice(w, i, {window})) "
        f"AS passage))"
    )
    occ = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .where(F.size(F.col("w")) >= window)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.i").alias("i"), F.col("g.passage"))
    )
    occ = occ.persist()  # feeds the frequency count AND the cover join
    repeated = (
        occ.groupBy("passage")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("passage")
    )
    covered = (
        occ.join(repeated, "passage", "semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (window - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = words.join(covered, ["doc_id", "pos"], "anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s.getField("w"),
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    total = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    return (
        total.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
        .orderBy("doc_id")
    )


def vocab_coverage(docs: DataFrame, k: int = 100) -> DataFrame:
    """Vocabulary coverage curve: the top-k corpus words by frequency
    with each prefix's cumulative share of ALL tokens — the
    tokenizer-budget diagnostic (how much of the corpus a k-entry
    vocab covers). One explode + one word-count shuffle; the running
    sum is a window over k rows, and the total is a broadcast scalar.
    Coverage is floor-discretized at 1e6 (cross-engine tie rule)."""
    from pyspark.sql import Window

    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("tot"))
    order = [F.col("n").desc(), F.col("w")]
    top = _topk_ranked(counts, order, k, "rank").crossJoin(
        F.broadcast(total)
    )
    w_cum = (
        Window.partitionBy(F.lit(0))  # k rows by construction
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("w").alias("word"),
        "n",
        (
            F.floor(F.sum("n").over(w_cum) / F.col("tot") * 1e6 + 0.5)
            / 1e6
        ).alias("coverage"),
    ).orderBy("rank")


def domain_cap(
    docs: DataFrame,
    cap: int = 1000,
    domain_col: str = "source",
    score: Column | None = None,
    salt_buckets: int = 32,
) -> DataFrame:
    """Per-domain document cap — the web-corpus curation step that
    keeps the best `cap` documents of every domain so no single host
    dominates the training mixture (the "per-domain cap" of C4/
    RefinedWeb-style recipes). Ranking is by `score` descending
    (default: n_chars — callers pass any quality column, e.g. a
    gopher_rules/quality_score output), doc_id ascending on ties, so
    the kept set is fully deterministic.

    Scale: a single rank window partitioned by domain would shuffle
    every row of a mega-domain into ONE task — the classic hot-key
    skew. This runs the standard two-phase top-k instead: phase 1
    ranks within (domain, salt) — salt = hash(doc_id) % salt_buckets —
    and keeps `cap` per salted group, bounding any domain's survivors
    to salt_buckets * cap rows; phase 2 ranks the bounded survivor set
    by domain for the exact global answer. Phase 1 can never evict a
    true top-cap row (a row beaten by `cap` others in its own salt
    bucket is beaten by `cap` others in the whole domain), so the
    result is identical to the naive single window — only the shuffle
    skew changes. Returns (doc_id, domain, rank_in_domain)."""
    from pyspark.sql import Window

    from agni_spark.functions.dedup import hash60

    s = (score if score is not None else F.col("n_chars")).cast("double")
    base = docs.select(
        "doc_id", F.col(domain_col).alias("domain"), s.alias("_score")
    )
    salted = base.withColumn(
        "_salt",
        F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(salt_buckets)),
    )
    w1 = Window.partitionBy("domain", "_salt").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= cap)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy("domain").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rank_in_domain", F.row_number().over(w2))
        .where(F.col("rank_in_domain") <= cap)
        .select(
            "doc_id", "domain",
            F.col("rank_in_domain").cast("int").alias("rank_in_domain"),
        )
        .orderBy("domain", "rank_in_domain")
    )
