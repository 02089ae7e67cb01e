"""Corpus-curation operators for a pretraining-data pipeline:
repetition metrics (Gopher-style), benchmark-contamination n-gram
checks, and deterministic mixture sampling.

These extend the documents-table family (text_analysis.py) with the
three curation steps a production 100 TB ingest runs between quality
filtering and train/val/test splitting: drop degenerate repetitive
docs, quarantine benchmark-contaminated docs, and down-sample
over-represented languages to a target mixture.

All keys are fully oracle-checked: every metric is exact integer
arithmetic plus single IEEE divisions, and sampling decisions hash
document CONTENT (never random()), so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.functions.hashing import let, md5_int
from bigdata1_spark.functions.textfns import (
    ngrams,
    shingles_or_null,
    tokens,
    word_shingles,
)
from bigdata1_spark.operators.basket import fold_sum, or_null_class, snap6
from bigdata1_spark.operators.stats import pearson_terms
from bigdata1_spark.operators.text_analysis import split_bucket, token_counts
from bigdata1_spark.sources.tables import load_table

# Gopher-style repetition gates (Rae et al. 2021 use 0.3 / 0.2 families
# for duplicate-fraction and top-n-gram-fraction thresholds).
DUP_WORD_MAX = 0.30
TOP_WORD_MAX = 0.20

# Word-n-gram size for contamination checks; benchmark-decontamination
# pipelines use 8-13-gram windows on web text — the synthetic docs are
# 30-150 words so 5 keeps per-doc gram counts meaningful at test scale.
CONTAM_N = 5
CONTAM_MIN_OVERLAP = 0.10

# Per-language mixture targets as 256ths (bucket space of split_bucket):
# en keeps everything, fr/de half, es/zh a quarter. A real pipeline
# computes these from token-budget targets; the mechanism is the same.
MIXTURE_LIMITS: dict[str, int] = {
    "en": 256,
    "fr": 128,
    "de": 128,
    "es": 64,
    "zh": 64,
}


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals: duplicate-word fraction, top-word
    fraction, duplicate-bigram fraction, and the boolean gate.

    Shape: word-level metrics (total, distinct, top count) all come
    from ONE explode → (doc_id, word) count → per-doc agg pipeline —
    two bounded shuffles with map-side partial aggregation, and the
    second groupBy reuses the first's hash partitioning prefix. Bigram
    metrics are pure array expressions (zero shuffle). The all-array
    alternative for top-word (count each distinct word by filtering
    the array) is shuffle-free but O(distinct × len) per doc —
    quadratic on exactly the adversarial docs a repetition filter
    exists to catch, so the linear explode path wins at scale.

    Columns: doc_id, n_tokens, dup_word_frac, top_word_frac,
    dup_bigram_frac, repetitive (0/1).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    word_stats = (
        token_counts(docs, "doc_id", toks=F.col("toks"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
        )
    )
    # One let-bound evaluation of the bigram array feeds both sizes
    # (unbound, the HOF expression tree is duplicated per reference).
    bg_stats = let(
        ngrams(F.col("toks"), 2),
        lambda bg: F.struct(
            F.size(bg).cast("long").alias("n_bigrams"),
            F.size(F.array_distinct(bg)).cast("long")
            .alias("n_distinct_bigrams"),
        ),
    )
    arr = docs.select("doc_id", bg_stats.alias("bs")).select(
        "doc_id",
        F.col("bs.n_bigrams").alias("n_bigrams"),
        F.col("bs.n_distinct_bigrams").alias("n_distinct_bigrams"),
    )
    n = F.col("n_tokens").cast("double")
    dup_word = F.when(
        F.col("n_tokens") > 0,
        (F.col("n_tokens") - F.col("n_distinct")).cast("double") / n,
    ).otherwise(F.lit(0.0))
    top_word = F.when(
        F.col("n_tokens") > 0, F.col("top_cnt").cast("double") / n
    ).otherwise(F.lit(0.0))
    dup_bigram = F.when(
        F.col("n_bigrams") > 0,
        (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
        / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        arr.join(word_stats, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            dup_word.alias("dup_word_frac"),
            top_word.alias("top_word_frac"),
            dup_bigram.alias("dup_bigram_frac"),
            (
                (dup_word > DUP_WORD_MAX) | (top_word > TOP_WORD_MAX)
            ).cast("long").alias("repetitive"),
        )
    )


def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every candidate doc, the
    fraction of its distinct word n-grams that appear anywhere in the
    benchmark set (here: docs with source='src0', standing in for an
    eval-suite corpus).

    Shape: an inverted-index join, never doc×doc — candidate grams and
    benchmark grams shuffle-join on the gram itself (the exact-match
    analogue of the LSH band join), then per-doc counts aggregate the
    hit flags. All three shuffles carry one row per (doc, distinct
    gram) at most; at 100 TB the benchmark side is tiny and AQE turns
    the gram join into a broadcast.

    Columns: doc_id, n_grams, n_overlap, overlap_frac, contaminated.
    """
    # no spread: the key's 4-exchange plan budget is a pinned contract
    docs = load_table(spark, sf_dir, "documents")
    # NULL text → ONE NULL gram (shingles_or_null). A NULL gram joins
    # with nothing on either side, so a NULL doc is counted (n_grams 1)
    # but can never be contaminated — the empty-string gram matched the
    # empty grams of NULL bench docs and quarantined every NULL doc.
    grams = shingles_or_null(F.col("text"), CONTAM_N)
    bench_grams = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(grams).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    cand = (
        docs.filter(F.col("source") != "src0")
        .select(
            "doc_id",
            F.explode(grams).alias("gram"),
        )
    )
    per_doc = (
        cand.join(bench_grams, "gram", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_grams").cast("double")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= CONTAM_MIN_OVERLAP).cast("long").alias("contaminated"),
    )


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mixture down-sampling: keep a doc iff its
    content-hash bucket falls under its language's per-256 limit —
    en fully, fr/de at 1/2, es/zh at 1/4.

    Content-hash gating (the same md5 bucket as the train/val/test
    split) makes the sample reproducible under any partitioning, retry,
    or cluster size, and consistent ACROSS pipeline stages — a doc
    kept here is kept on every rerun; random() would resample every
    attempt. Unknown languages default to keep (limit 256) so new data
    is never silently dropped. Pure narrow ops: zero shuffles.

    Columns: doc_id, lang, bucket (kept rows only).
    """
    limit = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(lim))
            for lang, lim in MIXTURE_LIMITS.items()
        ],
        F.lit(256),
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            split_bucket(F.col("text")).alias("bucket"),
            limit.alias("lim"),
        )
        .filter(F.col("bucket") < F.col("lim"))
        .select("doc_id", "lang", "bucket")
    )


SHARD_TOKEN_BUDGET = 256
N_PACK_GROUPS = 4


def shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential shard packing: assign docs to fixed token-budget
    shards — the step that turns a curated corpus into the bounded
    training files a data loader streams. A doc lands in the shard
    where its running token total starts, first-fit in deterministic
    doc_id order.

    Packing is inherently sequential, so the scale knob is the pack
    GROUP: docs hash into (lang, content-bucket%N) groups and each
    group packs independently on its own partition — one shuffle,
    parallelism = #groups, each group's window bounded by group size.
    At 100 TB you raise N_PACK_GROUPS (more, smaller shard families),
    never the per-task row count. All arithmetic is exact integers, so
    both engines agree on every boundary.
    Columns: doc_id, lang, pack_group, n_tokens, shard_seq, shard_id.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (split_bucket(F.col("text")) % N_PACK_GROUPS).alias("pack_group"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).withColumn(
        "shard_seq",
        F.expr(f"cum_before DIV {SHARD_TOKEN_BUDGET}").cast("long"),
    )
    return packed.select(
        "doc_id",
        "lang",
        "pack_group",
        "n_tokens",
        "shard_seq",
        # F.concat, not concat_ws: the id must be NULL when any
        # component is (SQL || semantics, matching the oracle) —
        # concat_ws silently drops NULL parts and emitted 'en' or '1-0'
        # ids for NULL-text docs (.nulldata sweep)
        F.concat(
            F.col("lang"),
            F.lit("-"),
            F.col("pack_group").cast("string"),
            F.lit("-"),
            F.col("shard_seq").cast("string"),
        ).alias("shard_id"),
    )


# Per-language keep rates for sample_stratified, expressed as md5-bucket
# thresholds out of 256 (exact integers — no float compare anywhere):
# en keeps 192/256 = 75%, fr/de 128/256 = 50%, es/zh 64/256 = 25%.
STRATA_THRESHOLDS: dict[str, int] = {
    "en": 192,
    "fr": 128,
    "de": 128,
    "es": 64,
    "zh": 64,
}


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based stratified sampling: keep each document with a
    per-language probability, decided by a content-independent
    deterministic hash of the doc id (first md5 byte vs an integer
    threshold).

    Complements ``mixture_sample`` (which down-samples to absolute
    CAPS and needs the per-language counts): rates need NO statistics
    pass and NO shuffle at all — the operator is a pure filter over the
    scan, reproducible under any partitioning, and composes with
    predicate pushdown. The same-keyed doc keeps or drops identically
    at every scale factor — the property training-data ablations rely
    on. Columns: doc_id, lang, bucket.
    """
    bucket = md5_int(F.col("doc_id").cast("string"), 2)
    threshold = F.when(F.lit(False), F.lit(0))
    for lang, t in STRATA_THRESHOLDS.items():
        threshold = threshold.when(F.col("lang") == lang, F.lit(t))
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < threshold.otherwise(F.lit(0)))
    )


# Training-chunk geometry: 64-token windows advancing by 48 (16-token
# overlap) — the sliding-context packing LLM pipelines cut documents
# into before sequence packing (shard_pack) takes over.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut each document into overlapping fixed-size token windows —
    the chunking step between cleaning and sequence packing in a
    pretraining pipeline (and the passage splitter for retrieval
    indexes).

    Chunk starts are a generated arithmetic sequence over the token
    count (1, 1+stride, … ≤ max(n,1)), posexploded so every chunk is a
    row; the chunk itself is an array ``slice`` — all built-in
    higher-order functions, zero Python, zero shuffles (the whole
    operator is a narrow map over the scan; at 100 TB it pipelines
    into whatever shuffle follows it). Chunk text is fingerprinted
    with md5 so the output stays narrow while still pinning the exact
    chunk content through the oracle hash. Empty docs yield one empty
    chunk (the word_shingles degenerate-doc convention).
    Columns: doc_id, chunk_id, n_tokens, chunk_md5.
    """
    # no spread: the key's 0-exchange (pure narrow map) budget is a
    # pinned contract — chunking parallelism follows scan tasks at scale
    docs = load_table(spark, sf_dir, "documents")
    chunked = docs.select(
        "doc_id",
        F.posexplode(
            let(
                tokens(F.col("text")),
                lambda tk: F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(tk), F.lit(1)),
                        F.lit(CHUNK_STRIDE),
                    ),
                    lambda start: F.slice(tk, start, CHUNK_TOKENS),
                ),
            )
        ).alias("chunk_id", "chunk"),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("chunk").cast("long").alias("n_tokens"),
        # NULL text → NULL chunk → NULL fingerprint: concat_ws would
        # silently flatten the NULL array to '' and fingerprint it as
        # md5('') while SQL md5(NULL) is NULL (found by the .nulldata
        # sweep). Empty docs (tk = []) still hash '' — the documented
        # degenerate-doc convention — only absent text propagates NULL.
        F.when(
            F.col("chunk").isNotNull(),
            F.md5(F.concat_ws(" ", F.col("chunk"))),
        ).alias("chunk_md5"),
    )


def decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply-side of the contamination check: the candidate corpus with
    benchmark-contaminated documents removed (the quarantine step that
    actually edits the training set).

    Reuses ``contamination_ngrams``'s inverted-index plan and keeps the
    docs whose overlap stayed under threshold — a semi-join of the
    corpus against the small clean-verdict side; benchmark docs
    (source='src0') are excluded by construction, exactly as a real
    decontamination pass drops the eval corpus itself from training.
    Columns: doc_id, source, n_chars.
    """
    clean = contamination_ngrams(spark, sf_dir).filter(
        F.col("contaminated") == 0
    )
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(clean.select("doc_id"), "doc_id").select(
        "doc_id", "source", "n_chars"
    )


SAMPLE_K = 20


def sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size per-group sampling: precisely K docs per language,
    chosen by content-hash order — the deterministic replacement for
    reservoir sampling when the sample must be the SAME set on every
    run, partition layout, or retry (rate-based sampling like
    ``sample_stratified`` can't promise an exact count).

    One shuffle on lang; the per-group window ranks by (md5(text),
    doc_id) — content decides membership, so re-ingesting the corpus
    reproduces the sample. At 100 TB the window is the textbook top-K
    per group: WindowGroupLimit pushes the K cutoff into the shuffle's
    partial sort, so no group ever materializes fully.
    Columns: lang, doc_id, rk.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # NULLS LAST pinned: md5(NULL text) is NULL, and the engines' ASC
    # defaults place it at opposite ends of the ranking (.nulldata
    # sweep) — contentless docs sample only after every hashed doc
    w = Window.partitionBy("lang").orderBy(
        F.asc_nulls_last(F.md5("text")), F.asc("doc_id")
    )
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= SAMPLE_K)
    )


def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup statistics: which 64-token training
    windows appear in MORE than one document — the boilerplate
    detector (headers, licence blocks, navigation text survive
    doc-level dedup because the documents differ overall; their shared
    chunks don't).

    Reuses ``doc_chunking``'s zero-shuffle chunker; the only shuffle
    groups by chunk fingerprint, carrying one row per distinct chunk
    after map-side combine. Emits duplicated chunks with their spread
    (#docs, #occurrences) — the apply-side (masking those spans) is a
    semi-join away. Columns: chunk_md5, n_docs, n_occurrences.
    """
    chunks = doc_chunking(spark, sf_dir)
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli thinning: keep each document with probability
    proportional to its length (the importance-sampling primitive
    behind mixture reweighting — long documents carry more tokens, so
    a token-balanced subsample must keep them more often).

    The keep decision is INTEGER-ONLY: with h a uniform 60-bit md5
    draw, ``P(h < t) = t / 2^60``, so "keep with p = w / w_max" is the
    cross-multiplied comparison ``h · w_max < w · 2^60`` — evaluated in
    exact DECIMAL(38,0)/HUGEINT arithmetic, no float anywhere. That
    makes the sample a pure function of content: bit-identical across
    engines, partitionings, retries, and scale factors (the same
    reason the other sampling keys hash content — but here even the
    probability scaling never touches IEEE rounding, closing the
    round-7 float-parity theme). w_max is a 1-row global aggregate
    broadcast back; the scan is touched once. Columns: lang, n_docs,
    n_kept, kept_chars.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wmax = docs.agg(F.max("n_chars").alias("w_max"))
    h = md5_int(
        F.concat_ws("|", F.lit("wsamp"), F.col("doc_id").cast("string")),
        15,
    )
    keep = (
        h.cast("decimal(38,0)") * F.col("w_max")
        < F.col("n_chars").cast("decimal(38,0)") * F.lit(2**60)
    )
    return (
        docs.crossJoin(F.broadcast(wmax))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum(
                F.when(keep, F.col("n_chars")).otherwise(F.lit(0))
            ).alias("kept_chars"),
        )
    )


# Per-domain document cap (RefinedWeb-style): a handful of hot domains
# dominate any web crawl; capping each domain at K quality-ranked docs
# bounds their influence on the training mixture.
DOMAIN_CAP_K = 10

# DSIR (Xie et al. 2023) hashed-feature space: bigrams hashed into a
# fixed bucket count so the per-distribution model is a 64-cell table
# regardless of corpus size.
DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"


def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality cap: keep at most K documents per source
    domain, ranked by a quality proxy (here n_chars desc) with doc_id
    as the unique tie-break — the RefinedWeb-style guard against a few
    hot domains dominating the training mixture.

    One shuffle on source; the rank-≤-K filter is recognized by
    Spark's WindowGroupLimit rule, which inserts a map-side partial
    top-K per group BEFORE the exchange, so a domain with 10^8 pages
    ships only K rows per input partition — the window never
    materializes a whole domain. (doc_id is unique, so the order is
    total and the kept set is deterministic under any partitioning.)
    Columns: source, doc_id, n_chars, rk.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= DOMAIN_CAP_K)


def dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log-likelihood ratio of a hashed-bigram unigram model of the
    TARGET domain (here lang='en') against the RAW corpus model, and
    keep documents the target model prefers.

    Hashing bigrams into ``DSIR_BUCKETS`` cells makes both
    distribution models fixed-size tables: the two bucket-count
    aggregates map-side combine down to ≤64 rows each, broadcast back,
    and the only doc-keyed shuffle carries (doc, bucket) counts — ≤64
    rows per doc regardless of length. The weight is
    ``mean_g [ ln p_target(bucket(g)) − ln p_raw(bucket(g)) ]`` with
    Laplace-smoothed probabilities; smoothed counts are exact integers,
    so both engines divide and ln identical doubles, and the per-doc
    float fold runs in explicit bucket order from 0.0 (the doc_entropy
    ln-parity discipline). Keep decisions compare the floor-6-rounded
    weight so the emitted flag is consistent with the emitted weight.
    Columns: doc_id, n_grams, weight, keep.
    """
    # NULL text is excluded from the corpus AND both distribution
    # models (oracle pins the same WHERE): unfiltered, Spark hashed the
    # flattened empty-string gram into a real bucket while the oracle's
    # NULL gram fell out of the bucket join — and the two engines'
    # model DENOMINATORS diverged with it (.nulldata sweep). NULL lang
    # needs no handling: it is simply never equal to the target lang.
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang", "text"
    ).filter(F.col("text").isNotNull())
    # the token array gets its own projection before the bigram
    # transform (the winnow_fingerprint lesson, on top of ngrams' own
    # let-binding): ngrams' F.get calls sit outside codegen CSE, and an
    # inlined split re-ran per element — O(words²) splits per doc,
    # measured 61 s for the sf1 explode vs ~2 s materialized.
    tk = docs.select("doc_id", "lang", tokens(F.col("text")).alias("w"))
    bg = tk.select(
        "doc_id",
        "lang",
        F.explode(ngrams(F.col("w"), 2)).alias("gram"),
    ).select(
        "doc_id",
        "lang",
        (md5_int("gram", 2) % DSIR_BUCKETS).alias("bucket"),
    )
    # per-doc bucket counts: the one doc-keyed shuffle (≤64 rows/doc).
    # lang rides along (functionally dependent on doc_id, so the group
    # cardinality is unchanged) so BOTH corpus models below re-aggregate
    # THIS frame instead of re-reading the raw corpus. The frame fans
    # out three ways (bc→lr, bc→tot, per_doc) and self-join-style
    # lineage duplication defeats exchange reuse (the dedup_jaccard
    # lesson), so without the cache the executed plan re-ran
    # tokenize+explode over the parquet scan 3× (verified r10/r11:
    # 3 Scan parquet, 0 ReusedExchange). Cached rows are ≤64 per doc
    # regardless of doc length — strictly smaller than the recompute;
    # session-cache lifecycle as in dedup_jaccard.
    dwc = (
        bg.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )
    # raw + target bucket models: ≤64 rows, derived by re-aggregating
    # the cached per-doc counts — sum(cnt) over docs is algebraically
    # identical to counting grams, in exact integers.
    bc = dwc.groupBy("bucket").agg(
        F.sum("cnt").alias("r_cnt"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("t_cnt"),
    )
    tot = bc.agg(
        F.sum("r_cnt").alias("r_tot"), F.sum("t_cnt").alias("t_tot")
    )
    lr = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("t_cnt") + 1).cast("double")
                    / (F.col("t_tot") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("r_cnt") + 1).cast("double")
                    / (F.col("r_tot") + DSIR_BUCKETS).cast("double")
                )
            ).alias("lr"),
        )
    )
    per_doc = (
        dwc.select("doc_id", "bucket", "cnt")
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "bucket",
                        (F.col("cnt").cast("double") * F.col("lr")).alias(
                            "term"
                        ),
                    )
                )
            ).alias("ts"),
        )
    )
    w = fold_sum(F.col("ts"), lambda x: x["term"]) / F.col("n_grams").cast(
        "double"
    )
    wr = snap6(w)
    return per_doc.select(
        "doc_id",
        "n_grams",
        wr.alias("weight"),
        (wr > F.lit(0.0)).cast("long").alias("keep"),
    )


# Exact-substring span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): a duplicated SPAN is removed, not
# the whole document. SPAN_N=10 word-grams stand in for the paper's
# 50-token threshold at this corpus's 30-150-word doc lengths.
SPAN_N = 10


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup: any word 10-gram whose text occurs >= 2
    times corpus-wide (any doc, any position — within-doc repeats
    count) marks every token position it covers; covered positions are
    stripped and the survivor text re-joined.

    Shape: an inverted gram index, never doc x doc. Grams shuffle on a
    128-bit md5 digest of the gram (not the ~10-word string itself —
    ~4x narrower shuffle rows for identical join semantics; both
    engines digest with the same md5 so even a collision would agree),
    duplicated digests join back to mark covered positions, and a
    left-anti on (doc_id, pos) keeps the survivors. Every shuffle
    carries at most one row per (doc, gram) or (doc, pos) — linear in
    corpus token count, the same scale story as contamination_ngrams.

    Columns: doc_id, n_tokens, n_dup_tokens, dup_frac, clean_text
    (whitespace-normalized: tokens re-joined with single spaces).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tk = docs.select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).withColumn("n_toks", F.size("w"))
    grams = tk.select(
        "doc_id",
        "n_toks",
        F.posexplode(ngrams(F.col("w"), SPAN_N)).alias("p0", "gram"),
    ).select(
        "doc_id",
        "n_toks",
        (F.col("p0") + 1).alias("start"),
        F.md5("gram").alias("digest"),
    )
    dup = (
        grams.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("digest")
    )
    # a gram at `start` covers start..start+N-1, clipped to doc length
    # (short-doc whole-text grams cover what exists); the outer greatest
    # keeps sequence() ascending for degenerate empty-text docs
    cover_end = F.greatest(
        F.least(F.col("start") + F.lit(SPAN_N - 1), F.col("n_toks")),
        F.col("start"),
    )
    covered = (
        grams.join(dup, "digest")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), cover_end)).alias("pos"),
        )
        .distinct()
    )
    toks = tk.select(
        "doc_id", F.posexplode("w").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    out = tk.select("doc_id", "n_toks").join(kept_agg, "doc_id", "left_outer")
    n_dup = F.col("n_toks") - F.coalesce(F.col("n_kept"), F.lit(0))
    return out.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_tokens"),
        n_dup.cast("long").alias("n_dup_tokens"),
        F.when(
            F.col("n_toks") > 0,
            n_dup.cast("double") / F.col("n_toks").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
# algorithm): k-gram hashes, keep the minimum of every w-wide window
# (rightmost on hash ties). Guarantees every shared run of
# WINNOW_K + WINNOW_W - 1 tokens shares a fingerprint, with ~2/(w+1)
# selection density — the classic bounded-density alternative to
# keep-every-gram fingerprinting.
WINNOW_K = 4
WINNOW_W = 5
_POS_ENC = 1 << 20  # (hash, rightmost-pos) tuple packed into one long
# The 20-bit position field bounds supported doc length at 2^20-1 grams
# (~1M words). Beyond that the packing silently corrupts min/tie-break
# order — and the oracle packs identically, so the hash sweep could
# never catch it (ADVICE r11). _pack_pos fails loudly instead.


def _pack_pos(h, pos):
    """Pack (hash, 1-based pos) into one long so MIN(v) = (min hash,
    rightmost pos). Raises at runtime on pos >= 2^20 rather than
    corrupting: widen _POS_ENC before ingesting million-gram docs.

    The guard lives in the ``otherwise`` branch so no optimizer rule
    can fold it away: an ``assert_true(...).isNull()`` predicate is
    only honored for as long as Catalyst declines to constant-fold
    IsNull over a NullType column (ADVICE r12)."""
    return F.when(
        pos < F.lit(_POS_ENC),
        h * F.lit(_POS_ENC) + (F.lit(_POS_ENC - 1) - pos),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"winnow_fingerprint: gram position >= {_POS_ENC} overflows "
                "the 20-bit _POS_ENC packing field"
            )
        ).cast("long")
    )


def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints.

    The selection rule ("each window's minimum, rightmost on ties") is
    exactly a forward-frame window-min: pack (hash, pos) into one long
    v = h * 2^20 + (2^20-1-pos) so MIN(v) picks min hash then max pos,
    take MIN over ROWS BETWEEN CURRENT AND w-1 FOLLOWING per doc, keep
    full windows only (start <= G-w+1; docs with fewer grams than w
    collapse to one whole-doc window), and DISTINCT the winners.

    One shuffle total (the per-doc window partitioning); hashes are the
    first 8 md5 hex digits so both engines agree bit-for-bit.
    Columns: doc_id, pos (1-based gram position), fp (32-bit hash).
    """
    from pyspark.sql.window import Window

    # NULL text produces NO fingerprints (pinned on both sides): left
    # unfiltered, both engines emit a (doc_id, NULL, NULL) row whose
    # NULLs coerce the whole oracle column to float in pandas and void
    # the value-hash (found by the .nulldata sweep).
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()
    )
    # materialize the token array in its own projection before the
    # gram transform: ngrams reads it WINNOW_K+1 times per position
    # inside HOF lambdas, which sit outside codegen CSE — inlined, the
    # regex split re-runs per F.get (measured ~7x on this key at sf0.1)
    g = docs.select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.posexplode(ngrams(F.col("w"), WINNOW_K)).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        md5_int("gram", 8).alias("h"),
    )
    g = g.withColumn("v", _pack_pos(F.col("h"), F.col("pos")))
    by_doc = Window.partitionBy("doc_id")
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    wm = g.select(
        "doc_id",
        "pos",
        F.min("v").over(frame).alias("wmin"),
        F.count(F.lit(1)).over(by_doc).alias("n_grams"),
    )
    sel = (
        wm.filter(
            F.col("pos")
            <= F.greatest(F.col("n_grams") - F.lit(WINNOW_W - 1), F.lit(1))
        )
        .select("doc_id", "wmin")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit(_POS_ENC - 1) - F.col("wmin") % F.lit(_POS_ENC))
        .cast("long")
        .alias("pos"),
        F.expr(f"CAST(wmin DIV {_POS_ENC} AS BIGINT)").alias("fp"),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY score: the fraction of a doc's
    distinct word-3-grams whose corpus-wide FIRST occurrence (minimum
    doc_id — the synthetic table's doc_id is ingest order) is the doc
    itself — the curation signal that separates "adds new content"
    from "restates the corpus" (≈ inverse of Lee et al. 2022's
    duplicate-text fraction, aggregated doc-level).

    ONE documents scan → distinct (doc_id, gram-hash) pairs, CACHED
    across their two consumers (the per-gram MIN(doc_id) model and
    the join-back — the dsir_sample multi-consumer-lineage lesson);
    the first-seen model shuffles on gram hash (map-side combinable
    MIN), and the verdict join is gram-hash-partitioned on both
    sides, so nothing here is ever doc×doc. Grams are xxhash64 of
    the shingle string (the dedup_jaccard convention — 2⁻⁶⁴-per-pair
    collision risk, string-level oracle cross-checks at test scale).
    NULL text yields no grams → the doc is absent from the output
    (documented; the degenerate short-doc whole-text shingle keeps
    tiny docs present). novelty = n_novel/n_grams is the single
    IEEE division. Columns: doc_id, n_grams, n_novel, novelty.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        word_shingles(tokens(F.col("text")), 3),
                        lambda s: F.xxhash64(s),
                    )
                )
            ).alias("g"),
        )
        .cache()
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


# Rank-frequency fit depth: the OLS runs over the top-ZIPF_TOP words
# by (count DESC, word ASC — total order). 100 is the conventional
# head for a Zipf audit: deep enough to expose a broken power law,
# shallow enough that the tail's lexical noise doesn't drown the fit.
ZIPF_TOP = 100


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus: OLS slope / intercept / r² of
    ln(frequency) on ln(rank) over the top-``ZIPF_TOP`` words — the
    standard sanity probe that a text corpus has a natural
    rank-frequency power law (slope ≈ −1) rather than the flat or
    cliffed curve of template/boilerplate floods.

    ONE scan + one vocabulary-scale word count; the head is taken with
    orderBy(c DESC, word ASC).limit — Spark plans TakeOrderedAndProject
    (distributed top-k, never a single-partition vocabulary sort), and
    only the ≤ZIPF_TOP surviving rows see a row_number window. Both
    lns are snapped to the 1e-6 grid and kept as exact BIGINT
    micro-units (the naive_bayes rule: ranking/summed ln outputs are
    never raw doubles), so the six OLS sufficient statistics are exact
    integer sums; slope/intercept/r² are single mirrored double chains
    off those integers, each 1e-6 floor-snapped, with slope snapped
    BEFORE the intercept chain consumes it (removes ulp sensitivity
    between engines). Degenerate heads (n < 2) yield NULL stats; zero
    y-variance yields NULL r². Columns: n_words, slope, intercept, r2.
    """
    from pyspark.sql import Window

    wc = token_counts(load_table(spark, sf_dir, "documents"))
    top = wc.orderBy(F.desc("cnt"), F.asc("word")).limit(ZIPF_TOP)
    ranked = top.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("word")))
        .alias("rnk"),
    )
    lx = F.floor(F.log(F.col("rnk").cast("double")) * F.lit(1e6) + F.lit(0.5))
    ly = F.floor(F.log(F.col("cnt").cast("double")) * F.lit(1e6) + F.lit(0.5))
    snapped = ranked.select(
        lx.cast("decimal(19,0)").alias("lx"),
        ly.cast("decimal(19,0)").alias("ly"),
    )
    s = snapped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    num, denx, deny = pearson_terms("n", "sx", "sy", "sxy", "sxx", "syy")
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    ok = (F.col("n") >= 2) & (denx > 0)
    slope = snap6(num / denx)
    intercept = snap6(
        (sy / F.lit(1e6) - slope * (sx / F.lit(1e6))) / n
    )
    r2 = snap6((num * num) / (denx * deny))
    return s.select(
        F.col("n").cast("long").alias("n_words"),
        F.when(ok, slope).alias("slope"),
        F.when(ok, intercept).alias("intercept"),
        F.when(ok & (deny > 0), r2).alias("r2"),
    )


def source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between source slices: |A∩B| and
    Jaccard over each source's DISTINCT token set — the corpus-level
    similarity matrix a mixture-weighting pass reads before deciding
    two feeds are redundant (the set-level companion of
    ``token_divergence``'s distribution distance).

    ONE scan builds the distinct (source, word) incidence table
    (cached — it feeds sizes AND both sides of the intersection join);
    intersections come from the word-keyed equi-join with ``src_a <
    src_b``, whose fan-out is bounded by #sources² PER WORD (sources
    are a bounded dimension — at 100 TB this is vocabulary-scale ×
    C(#sources, 2), never corpus-scale), and the source-pair frame is
    a broadcast theta-join of the tiny per-source size table with
    itself. Counts are exact integers; Jaccard = c/(n_a+n_b−c) is one
    snapped division (denominator ≥ 1 — sizes are ≥ 1 by
    construction). NULL source is a real slice (``<null>``, the
    log_odds convention); pairs with no shared vocabulary emit 0.
    Columns: src_a, src_b, n_a, n_b, n_common, jaccard.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            or_null_class(F.col("source")).alias("src"),
            F.explode(tokens(F.col("text"))).alias("word"),
        )
        .distinct()
        .cache()
    )
    sizes = st.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        st.alias("x")
        .join(
            st.alias("y"),
            (F.col("x.word") == F.col("y.word"))
            & (F.col("x.src") < F.col("y.src")),
        )
        .groupBy(
            F.col("x.src").alias("sa"), F.col("y.src").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = (
        sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))
        .join(
            F.broadcast(
                sizes.select(
                    F.col("src").alias("src_b"), F.col("n").alias("n_b")
                )
            ),
            F.col("src_a") < F.col("src_b"),
        )
        .join(
            F.broadcast(inter),
            (F.col("src_a") == F.col("sa"))
            & (F.col("src_b") == F.col("sb")),
            "left",
        )
    )
    c = F.coalesce(F.col("c"), F.lit(0)).cast("long")
    jac = c.cast("double") / (
        F.col("n_a").cast("double")
        + F.col("n_b").cast("double")
        - c.cast("double")
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        c.alias("n_common"),
        snap6(jac).alias(
            "jaccard"
        ),
    )
