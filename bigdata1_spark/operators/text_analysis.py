"""Text-analysis operators over ``documents`` (north-star X4):
corpus stats, token counting, quality scoring, language-ID,
document fingerprinting.

All built-in column expressions except the rolling-hash fingerprint
(Arrow-batched pandas UDF — genuinely sequential per document, the
documented Python-UDF exception). Ratios are single IEEE divisions of
exact integers so oracle hashes match.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from bigdata1_spark.functions.hashing import let
from bigdata1_spark.functions.textfns import (
    LANG_MARKERS,
    STOPWORDS,
    ngrams,
    shingles_or_null,
    tokens,
)
from bigdata1_spark.operators.basket import fold_sum, or_null_class, snap6
from bigdata1_spark.sources.tables import load_table


def _toks(col: str = "text") -> Column:
    return tokens(F.col(col))


def token_counts(
    docs: DataFrame, *keys: str, toks: Column | None = None
) -> DataFrame:
    """(keys…, word, cnt): how often each token occurs per key tuple —
    the one explode → groupBy → count under the token statistics of the
    documents keys. ``toks`` defaults to the tokens of ``text`` (pass a
    gram array to count grams). The count partial-aggregates map-side,
    so its shuffle carries one row per DISTINCT (keys…, word), never one
    per occurrence: per-doc keys give per-doc vocabularies, no keys the
    corpus vocabulary."""
    return (
        docs.select(*keys, F.explode(_toks() if toks is None else toks)
                    .alias("word"))
        .groupBy(*keys, "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distribution per (lang, source): doc count, char sums,
    token sums, exact-double averages."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars", F.size(_toks()).alias("n_tokens")
    )
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.sum("n_chars").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avg_chars"),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts: whitespace tokens and a BPE-ish regex
    sub-token count (alpha runs / digit runs / single punctuation —
    the pre-tokenizer split most BPE vocabularies assume)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_toks()).cast("long").alias("ws_tokens"),
        F.regexp_count(
            F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")
        ).cast("long").alias("bpe_tokens"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals per doc: length, mean token length,
    stopword ratio, and a composite score.

    score = stop_ratio * 0.5 + min(n_tokens/100, 1) * 0.5 — the usual
    shape of cheap pretraining-data filters (enough function words,
    enough length). All ratios are single divisions of exact ints.
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])

    def from_feats(f: Column) -> Column:
        n_tok = f.getField("n_tokens").cast("double")
        n_stop = f.getField("n_stop").cast("double")
        stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
        mean_tok_len = F.when(
            n_tok > 0, f.getField("char_sum").cast("double") / n_tok
        ).otherwise(F.lit(0.0))
        return F.struct(
            f.getField("n_tokens").alias("n_tokens"),
            mean_tok_len.alias("mean_token_len"),
            stop_ratio.alias("stop_ratio"),
            (stop_ratio * 0.5
             + F.least(n_tok / 100, F.lit(1.0)) * 0.5).alias("score"),
        )

    # Nested let-bindings: tokenize once, reduce to three integer
    # features once, then derive the ratio outputs — inlining would
    # re-tokenize per reference (5×) after projection collapse.
    row = let(
        _toks(),
        lambda t: let(
            F.struct(
                F.size(t).cast("long").alias("n_tokens"),
                F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
                .cast("long").alias("n_stop"),
                F.aggregate(
                    t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
                ).alias("char_sum"),
            ),
            from_feats,
        ),
    )
    return docs.select("doc_id", row.alias("r")).select(
        "doc_id", "r.n_tokens", "r.mean_token_len", "r.stop_ratio", "r.score"
    )


# Gopher/C4-style keep thresholds — module-level so the oracle-SQL
# generator inlines the SAME numbers (single source of truth).
QUALITY_MIN_WORDS = 5
QUALITY_MIN_MEAN_WORD_LEN = 3.0
QUALITY_MAX_MEAN_WORD_LEN = 10.0
QUALITY_MAX_SYMBOL_RATIO = 0.1
QUALITY_MAX_DIGIT_RATIO = 0.2
QUALITY_MAX_TOP_BIGRAM_RATIO = 0.2


def quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style hard quality filters per document — the standard
    pretraining-corpus gate (Rae et al. 2021 'Gopher' §A1.1, Raffel et
    al. 2020 'C4'): minimum word count, mean-word-length band,
    symbol-to-char and digit-to-char caps, and a repetition cap (most
    frequent word bigram / total bigrams — boilerplate and template
    spam score high here). Emits the signals plus keep ∈ {0,1} so a
    pipeline can either filter or audit the rejection reasons.

    All signals are codegen column expressions; the repetition signal
    is one explode + two partial-aggregating shuffles (count per
    (doc, bigram), max per doc) joined back — the shuffle carries one
    row per distinct bigram per doc, not per occurrence. Ratios are
    single IEEE divisions of exact ints (oracle-hashable). Columns:
    doc_id, n_words, mean_word_len, symbol_ratio, digit_ratio,
    top_bigram_ratio, keep.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")

    def from_feats(f: Column) -> Column:
        n_words = f.getField("n_words").cast("double")
        n_chars = f.getField("n_chars").cast("double")
        mean_wl = F.when(
            n_words > 0, f.getField("char_sum").cast("double") / n_words
        ).otherwise(F.lit(0.0))
        sym = F.when(
            n_chars > 0, f.getField("n_sym").cast("double") / n_chars
        ).otherwise(F.lit(0.0))
        dig = F.when(
            n_chars > 0, f.getField("n_dig").cast("double") / n_chars
        ).otherwise(F.lit(0.0))
        return F.struct(
            f.getField("n_words").alias("n_words"),
            f.getField("n_bigrams").alias("n_bigrams"),
            mean_wl.alias("mean_word_len"),
            sym.alias("symbol_ratio"),
            dig.alias("digit_ratio"),
        )

    feats = let(
        _toks(),
        lambda t: let(
            F.struct(
                F.size(t).cast("long").alias("n_words"),
                F.greatest(F.size(t) - 1, F.lit(1))
                .cast("long").alias("n_bigrams"),
                F.aggregate(
                    t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
                ).alias("char_sum"),
                F.length("text").cast("long").alias("n_chars"),
                F.length(
                    F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
                ).cast("long").alias("n_sym"),
                F.length(
                    F.regexp_replace(F.col("text"), r"[^0-9]", "")
                ).cast("long").alias("n_dig"),
            ),
            from_feats,
        ),
    )
    stats = docs.select("doc_id", feats.alias("f")).select("doc_id", "f.*")

    # non-distinct word bigrams (word_shingles dedupes — repetition
    # counting must NOT); short docs yield one whole-doc bigram so the
    # ratio denominator is never 0
    top = (
        token_counts(docs, "doc_id", toks=ngrams(_toks(), 2))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_c"))
    )
    joined = stats.join(top, "doc_id")
    rep = F.col("top_c").cast("double") / F.col("n_bigrams").cast("double")
    keep = (
        (F.col("n_words") >= QUALITY_MIN_WORDS)
        & (F.col("mean_word_len") >= QUALITY_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= QUALITY_MAX_MEAN_WORD_LEN)
        & (F.col("symbol_ratio") <= QUALITY_MAX_SYMBOL_RATIO)
        & (F.col("digit_ratio") <= QUALITY_MAX_DIGIT_RATIO)
        & (rep <= QUALITY_MAX_TOP_BIGRAM_RATIO)
    )
    return joined.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "digit_ratio",
        rep.alias("top_bigram_ratio"),
        keep.cast("long").alias("keep"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: count marker hits per language via a
    broadcast join against the inlined marker table, argmax with
    deterministic tie-break (hits desc, lang asc); no hits → 'und'.
    Columns: doc_id, pred_lang, hits.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(_toks()).alias("tok"))
    markers = spark.createDataFrame(
        [(lang, w) for lang, ws in LANG_MARKERS.items() for w in ws],
        ["m_lang", "m_word"],
    )
    hits = (
        tok.join(F.broadcast(markers), F.col("tok") == F.col("m_word"))
        .groupBy("doc_id", F.col("m_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # argmax via min over (−hits, lang): smallest tuple = highest hits,
    # then lexicographically first lang — deterministic tie-break.
    best = (
        hits.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("hits")).alias("neg"),
                    F.col("pred_lang").alias("lang"),
                )
            ).alias("b")
        )
        .select(
            "doc_id",
            F.col("b.lang").alias("pred_lang"),
            (-F.col("b.neg")).cast("long").alias("hits"),
        )
    )
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
        )
    )


def _rolling_hash_fn(texts: pd.Series) -> pd.Series:
    """Karp-Rabin rolling hash over characters, mod 2^61-1.

    Genuinely sequential per document — the documented pandas-UDF
    exception (Arrow-batched, vectorized transfer; the loop is per-doc,
    not per-row-per-interpreter-call).
    """
    MOD = (1 << 61) - 1
    BASE = 257

    def fp(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * BASE + ord(ch)) % MOD
        return h

    return texts.map(lambda s: fp(s) if s is not None else 0)


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rolling-hash fingerprint (rows-only check: the hash loop
    isn't SQL-expressible). Columns: doc_id, fp.

    The pandas_udf is built lazily — decorating at import time would
    require an active SparkSession just to parse the return type.
    """
    rolling_hash = pandas_udf(_rolling_hash_fn, "long")
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash(F.col("text")).alias("fp"))


# ~80/10/10 over 256 content-hash buckets — single source of truth for
# sample_split, pipeline_pretraining, AND their generated oracles.
SPLIT_TRAIN_LIM = 205
SPLIT_VAL_LIM = 230


def split_bucket(text: Column) -> Column:
    """256 uniform buckets from the first two hex digits of md5(text) —
    stable across runs, engines, and re-partitioning (never random())."""
    return F.conv(F.substring(F.md5(text), 1, 2), 16, 10).cast("long")


def split_of(bucket: Column) -> Column:
    return (
        F.when(bucket < SPLIT_TRAIN_LIM, "train")
        .when(bucket < SPLIT_VAL_LIM, "val")
        .otherwise("test")
    )


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (~80/10/10).

    Splitting on a content hash keeps assignment stable — the
    reproducibility property a training pipeline needs.
    Columns: doc_id, bucket, split.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = split_bucket(F.col("text"))
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        split_of(bucket).alias("split"),
    )


def _gated_deduped(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The curation prefix both pretraining pipelines share: quality
    gate → exact dedup (keep min doc_id per text). Returns ``(gated,
    deduped)``; ``gated`` is CACHED and the caller releases it. The
    gated corpus is the fan-out point (the dedup groupBy and the
    representative semi-join both consume it) — without the cache
    Catalyst re-derives the whole quality subtree per consumer (6 scans
    of documents, measured); with it the corpus is computed once (at
    ingest scale this materialization is the natural stage boundary —
    a checkpoint/intermediate table)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    kept = quality_filters(spark, sf_dir).filter(
        F.col("keep") == 1
    ).select("doc_id")
    gated = (
        docs.select("doc_id", "text")
        .join(kept, "doc_id", "left_semi")
        .cache()
    )
    reps = gated.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return gated, gated.join(reps.select("doc_id"), "doc_id", "left_semi")


def _split_stats(corpus: DataFrame, *release: DataFrame) -> DataFrame:
    """Per-split stats (split, n_docs, total_tokens) of a (doc_id, text)
    corpus, materialized eagerly so the ``release`` caches can be
    unpersisted, in the order given, before returning — otherwise every
    caller leaks a session-lifetime storage entry the size of the kept
    corpus. The (≤3-row) checkpoint blocks are tiny and freed by the
    ContextCleaner when the returned DataFrame is garbage-collected."""
    result = (
        corpus.select(
            split_of(split_bucket(F.col("text"))).alias("split"),
            F.size(_toks()).cast("long").alias("nt"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    for cached in release:
        cached.unpersist(blocking=False)
    return result


def pipeline_pretraining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-data pipeline as ONE declarative plan:
    quality gate → exact dedup (keep min doc_id per text) → stable
    content-hash train/val/test split → per-split corpus stats. This is
    the composition a 100 TB ingest actually runs. Columns: split,
    n_docs, total_tokens.
    """
    gated, deduped = _gated_deduped(spark, sf_dir)
    return _split_stats(deduped, gated)


def pipeline_pretraining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipeline_pretraining`` with the NEAR-dedup stage a production
    ingest actually runs spliced in (VERDICT r08 item 7): quality gate
    → exact dedup → MinHash-LSH near-dedup (the pure-LSH scale path —
    ``dedup_near``'s banded candidates + Jaccard ≥ 0.5 verify, NOT the
    oracle-checkable exact composite) → connected-component
    representative selection → content-hash split → per-split stats.

    This key exists to MEASURE the production dedup cost inside the
    full curation plan (bench-only, `bench.py` EXTRA_BENCH): the
    LSH leg's xxhash64-derived signatures are not SQL-reproducible, so
    a DuckDB value-hash oracle is impossible by construction — the
    checked contract lives in ``dedup_near``'s registry key; THIS
    composition's invariants (survivor set ⊇ the exact-pair pipeline's,
    determinism, stage monotonicity) are pinned in
    `tests/test_extensions.py`. Shingle hashes are computed over the
    GATED+DEDUPED corpus only (the pipeline ordering that matters at
    100 TB: the quality gate shrinks the LSH input before the one
    shuffle-heavy stage), shared by candidates and verify via one
    cache. Columns: split, n_docs, total_tokens.
    """
    from bigdata1_spark.operators import dedup

    gated, deduped = _gated_deduped(spark, sf_dir)
    sh = dedup.shingle_hashes_of(deduped).cache()
    near = dedup.dedup_near(spark, sf_dir, hashed_shingles=sh).select(
        "id1", "id2"
    )
    labels = dedup.min_label_components(deduped.select("doc_id"), near)
    survivors = deduped.join(
        labels.filter(F.col("node") == F.col("lbl")).select(
            F.col("node").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    return _split_stats(survivors, sh, gated)


def ngram_freq(spark: SparkSession, sf_dir: str, top_n: int = 50) -> DataFrame:
    """Corpus-level bigram frequencies, top-N with deterministic
    tie-break — vocabulary/phrase statistics over the documents table
    (explode → count → ordered limit; the count shuffle carries one row
    per distinct bigram thanks to map-side partial aggregation)."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text → ONE NULL bigram (shingles_or_null); NULLS LAST pinned
    # on the tie-break for the same reason as user_paths.
    return (
        token_counts(docs, toks=shingles_or_null(F.col("text"), 2))
        .orderBy(F.desc("cnt"), F.asc_nulls_last("word"))
        .limit(top_n)
        .select(F.col("word").alias("bigram"), F.col("cnt").alias("freq"))
    )


def doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    repetitiveness signal quality pipelines gate on (low entropy =
    boilerplate / degenerate text).

    H = -Σ_w p_w·ln(p_w) is a float sum, so fold ORDER decides the
    final bits: both engines fold the per-doc (count ordered by word)
    array left-to-right from an explicit 0.0 — Spark ``F.aggregate``
    over ``array_sort(collect_list(struct(word, cnt)))``, DuckDB
    ``list_reduce(list_prepend(0.0, list(cnt ORDER BY word)))`` — so
    every intermediate double matches (ln ulp drift survives only past
    the floor-6 rounding boundary, measure-zero).

    Scale: the (doc, word) count partial-aggregates map-side, so the
    first shuffle carries distinct per-doc vocabularies (≪ token
    stream); the per-doc array is bounded by doc vocabulary size.
    Columns: doc_id, n_tokens, entropy.
    """
    wc = token_counts(load_table(spark, sf_dir, "documents"), "doc_id")
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct("word", "cnt"))).alias("wcs"),
    )
    ld = F.col("n_tokens").cast("double")
    h = fold_sum(
        F.col("wcs"),
        lambda x: (x["cnt"].cast("double") / ld)
        * F.log(x["cnt"].cast("double") / ld),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        snap6(-h).alias("entropy"),
    )


# PII patterns shared by the Spark implementation and the DuckDB oracle
# (registry.py): kept to the Java-regex ∩ RE2 common subset — no
# lookarounds, no backrefs — so both engines compile them identically.
PII_EMAIL_RE = "[a-zA-Z0-9.#_]+@[a-zA-Z0-9.]+"
PII_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline
    runs before tokenization: emails and phone numbers replaced by
    typed placeholders, with per-row redaction counts for auditing.

    The synthetic ``documents`` text carries no PII, so (like
    ``billing_total_b``'s Format-B round-trip) this key CONSTRUCTS a
    contact-card text column from ``customer`` columns, then scrubs
    it — exercising the real path: regex match → replace → count, all
    JVM-side (``regexp_replace``/``regexp_count``, whole-stage
    codegen; no Python in the loop). At 100 TB this is a pure narrow
    map — no shuffle, no skew surface; regex cost scales with bytes
    scanned and pushes zero data over the network.

    Columns: c_custkey, clean_text, n_email, n_phone.
    """
    cust = load_table(spark, sf_dir, "customer")
    email = F.concat(
        F.lower(F.regexp_replace("c_name", " ", ".")), F.lit("@example.com")
    )
    phone = F.concat(
        F.lpad(F.col("c_nationkey").cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    raw = F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" <"),
        email,
        F.lit("> or call "),
        phone,
        F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    with_raw = cust.select("c_custkey", raw.alias("raw"))
    return with_raw.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("raw", PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ).alias("clean_text"),
        F.regexp_count("raw", F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count("raw", F.lit(PII_PHONE_RE)).alias("n_phone"),
    )


def heavy_hitters(
    spark: SparkSession, sf_dir: str, k: int = 1000
) -> DataFrame:
    """Exact corpus-level heavy hitters: every token whose frequency is
    ≥ 1/k of all token occurrences (the φ-frequent-items problem with
    φ = 1/k, solved exactly).

    Scale shape: explode → count is ONE shuffle carrying one row per
    DISTINCT token (map-side partial aggregation collapses the raw
    occurrences), and the grand total is a 1-row broadcast — the same
    aggregate-vs-global-scalar pattern as tpch_q15. The threshold test
    is pure integer arithmetic (``cnt * k >= total``), so no float
    boundary can disagree between engines; ``frac`` is one IEEE
    division of exact integers. At 100 TB the candidate set after the
    count shuffle is vocabulary-sized, not corpus-sized — the sketch
    alternative (count-min / SpaceSaving) only matters when even the
    vocabulary doesn't fit, and ``approx_sketch`` covers that posture.
    Columns: token, cnt, frac.
    """
    counts = token_counts(load_table(spark, sf_dir, "documents"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k >= F.col("total"))
        .select(
            F.col("word").alias("token"),
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double"))
            .alias("frac"),
        )
    )


def bpe_pair_counts(
    spark: SparkSession, sf_dir: str, top_n: int = 50
) -> DataFrame:
    """The inner loop of BPE tokenizer training: frequency of every
    adjacent symbol pair, weighted by word frequency — the statistic a
    merge step argmaxes over (here at the character level, i.e. the
    first merge iteration).

    Two shuffles total, both vocabulary-bounded: tokens collapse to a
    (word, count) table via map-side combine, then each DISTINCT word
    explodes into its len−1 character pairs (substring over a generated
    index — all built-in HOFs, no Python), and pair counts aggregate
    the word WEIGHTS. At 100 TB the corpus is touched once; everything
    after the first count is vocabulary-scale, which is why BPE
    training is feasible on web-scale corpora at all. Deterministic
    top-N tie-break on the pair string. Columns: pair, freq.
    """
    pairs = _bpe_words(spark, sf_dir).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            )
        ).alias("pair"),
        "cnt",
    )
    return _top_pairs(pairs, top_n)


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text canonicalization: NFC-normalize + casefold-lower,
    the first pass of any multilingual ingest (dedup and tokenization
    both assume one canonical byte form per visible string).

    Spark has no NFC built-in, so this is one of the repo's documented
    Python touchpoints: a pandas_udf over the text column — Arrow
    carries the data batch-at-a-time (SCALE.md rules); the per-element
    normalize/lower inside the batch is inherent (unicodedata exposes
    no vectorized form), which is exactly why the column stays a
    documented touchpoint rather than the default path. The oracle pins exact semantic parity against DuckDB's
    native ``nfc_normalize``; a decomposed-accent prefix (``Cafe´``
    built from a combining acute) is prepended so the normalization is
    exercised for real, not vacuously on ASCII. Output carries the
    md5 + length of the normalized text, keeping rows narrow while
    hashing every byte of the result. Columns: doc_id, n_chars_norm,
    norm_md5.
    """
    import pandas as pd

    @F.pandas_udf("string")
    def nfc_lower(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize("NFC", x).lower()
        )

    docs = load_table(spark, sf_dir, "documents")
    # DECOMPOSED accent (e + combining acute U+0301): NFC must
    # compose it, so the oracle catches a normalization that
    # silently no-ops.
    raw = F.concat(F.lit("Cafe\u0301 \u2014 "), F.col("text"))
    norm = nfc_lower(raw)
    return docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm.cast("binary")).alias("norm_md5"),
    )


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt): the word table every BPE key trains on — each corpus
    word of ≥ 2 characters (a 1-char word has no pair) with its count.
    The corpus is touched once; everything after is vocabulary-scale."""
    return token_counts(load_table(spark, sf_dir, "documents")).filter(
        F.length("word") >= 2
    )


def _bpe_spaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, cnt): each BPE word as the space-separated string of its
    characters — the symbol string a merge rewrites. Checkpointed
    (lazily): a merge round's argmax and its rewrite both read it."""
    return _bpe_words(spark, sf_dir).select(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, F.lit(1)),
            ),
            " ",
        ).alias("w"),
        "cnt",
    ).localCheckpoint(eager=False)


def _top_pairs(pairs: DataFrame, n: int, *keys: str) -> DataFrame:
    """(keys…, pair, freq): the ``n`` most frequent pairs of a (keys…,
    pair, cnt) frame, frequency weighted by word count, pair ASC on
    ties — a total order, so the top-N (and a merge's argmax) is
    deterministic."""
    return (
        pairs.groupBy(*keys, "pair")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(n)
    )


def _sym_pair_freq(words: DataFrame, n: int, *keys: str) -> DataFrame:
    """``_top_pairs`` over the adjacent symbol pairs of a (keys…, w,
    cnt) spaced-word frame."""
    return _top_pairs(
        words.select(*keys, _sym_pairs(F.col("w")).alias("pair"), "cnt"),
        n,
        *keys,
    )


def _argmax_pair(words: DataFrame, alias: str) -> DataFrame:
    """The 1-row frame (alias): the pair a merge step picks — the most
    frequent adjacent symbol pair of ``words``. Callers broadcast-join
    it; it is never collected to the driver."""
    return _sym_pair_freq(words, 1).select(F.col("pair").alias(alias))


def _sym_pairs(col):
    """Adjacent symbol pairs of a space-separated symbol string, as an
    exploded column. A word can collapse to ONE symbol post-merge (e.g.
    merge ('i','n') + vocabulary word 'in'): size-1 = 0 and Spark's
    sequence(1, 0) is the DESCENDING array [1, 0], so element_at would
    be called with index 0 (always an error) — guard with an explicit
    when() that emits an empty index array, matching the oracle's empty
    generate_series(1, 0). (ADVICE r07 medium.)"""
    return F.explode(
        F.transform(
            F.when(
                F.size(F.split(col, " ")) >= 2,
                F.sequence(F.lit(1), F.size(F.split(col, " ")) - 1),
            ).otherwise(F.array().cast("array<int>")),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.split(col, " "), i),
                F.element_at(F.split(col, " "), i + 1),
            ),
        )
    )


# U+001F (unit separator). It is NOT whitespace in either engine, so
# it can survive tokenization ('c\x1fd' is one token); the merge
# encoding stays unambiguous only while no corpus word carries it. The
# generators emit no C0 control, whereas printable punctuation such as
# '|' is common in tokens (ADVICE r8).
_BPE_DELIM = "\x1f"


def _apply_merge(w, pair):
    """Apply BPE merge ``pair`` ('a b') to spaced word ``w`` with a
    literal replace that is symbol-ALIGNED even for multi-char symbols.

    A bare replace of 'a b' is only alignment-safe when every symbol is
    one character (true before the first merge, false after: in
    'x yte r' the substring 'te r' is not on a symbol boundary). So the
    word is re-encoded with doubled delimiters — '.a..b..c.' where '.'
    is U+001F — and the pattern '.a..b.' borrows ONE delimiter from
    each side's doubled boundary: any match is therefore anchored on
    symbol boundaries, and adjacent matches do not fight over a shared
    delimiter ('.a..a..a.' with merge (a,a) → '.aa..a.', the greedy
    non-overlapping BPE scan). The delimiter is the C0 control char
    U+001F (unit separator), which no generated corpus word contains —
    a printable delimiter like '|' is common (tokens are
    whitespace-split, punctuation survives), and a symbol containing
    the delimiter makes the encoding ambiguous in a way BOTH engines
    mirror, so the parity gate could never catch it (ADVICE r8).
    Both engines' non-regex replace() scans left-to-right
    non-overlapping, so the oracle mirrors this expression verbatim.
    """
    d, dd = _BPE_DELIM, _BPE_DELIM * 2
    enc = F.concat(F.lit(d), F.replace(w, F.lit(" "), F.lit(dd)), F.lit(d))
    pat = F.concat(
        F.lit(d), F.replace(pair, F.lit(" "), F.lit(dd)), F.lit(d)
    )
    rep = F.concat(
        F.lit(d), F.replace(pair, F.lit(" "), F.lit("")), F.lit(d)
    )
    merged = F.replace(enc, pat, rep)
    return F.replace(
        F.substring(merged, F.lit(2), F.length(merged) - F.lit(2)),
        F.lit(dd),
        F.lit(" "),
    )


def bpe_merge_round(
    spark: SparkSession, sf_dir: str, top_n: int = 30
) -> DataFrame:
    """ONE exactly-unrolled BPE training round — argmax the pair
    statistic, APPLY the merge to every word, recount (the
    ``pagerank_iter1`` pattern for pinning an iterative kernel
    bit-for-bit; ``bpe_pair_counts`` computes the statistic alone,
    this key proves the merge application the training loop repeats).

    Words live as space-separated symbol strings. The winning pair
    (max weighted frequency, lexicographic tie-break) is applied with
    a LITERAL string replace: scanning is left-to-right and
    non-overlapping in both engines ('a a a a' + merge (a,a) →
    '(aa)(aa)', verified parity), which is exactly BPE's greedy pass,
    and before the first merge every symbol is one character so any
    match is symbol-aligned by construction. Everything stays
    vocabulary-scale after the first word count — the corpus is
    touched once, which is why BPE training is feasible at 100 TB; the
    1-row argmax is a broadcast cross join, never a driver collect.
    Columns: merged_pair, pair, freq (top-N post-merge statistics).
    """
    spaced = _bpe_spaced(spark, sf_dir)
    mpair = F.col("mpair")
    merged = spaced.crossJoin(
        F.broadcast(_argmax_pair(spaced, "mpair"))
    ).select(
        "mpair",
        F.replace(
            F.col("w"), mpair, F.replace(mpair, F.lit(" "), F.lit(""))
        ).alias("w"),
        "cnt",
    )
    return _sym_pair_freq(merged, top_n, "mpair").select(
        F.col("mpair").alias("merged_pair"), "pair", "freq"
    )


def bpe_merge_round2(
    spark: SparkSession, sf_dir: str, top_n: int = 30
) -> DataFrame:
    """TWO exactly-unrolled BPE training rounds chained — merge-then-
    merge composition pinned bit-for-bit (VERDICT r07 item 8; the
    ``pagerank`` unrolling pattern applied one level deeper than
    ``bpe_merge_round``).

    Round 1's alignment argument ("every symbol is one character, so a
    literal replace of 'a b' is symbol-aligned by construction") breaks
    in round 2: post-merge symbols are multi-char, and a bare substring
    match can land mid-symbol ('x yte r' contains 'te r' off-boundary).
    Both merge applications therefore go through :func:`_apply_merge`'s
    doubled-delimiter encoding, whose matches are provably
    boundary-anchored for ANY symbol alphabet — the form a real BPE
    training loop would iterate. Each round is argmax (1-row broadcast,
    never collected) → aligned literal replace → recount; the corpus is
    still touched exactly once, so the 100 TB feasibility argument of
    ``bpe_merge_round`` carries over unchanged.
    Columns: merged_pair1, merged_pair2, pair, freq (top-N statistics
    after both merges).
    """
    spaced = _bpe_spaced(spark, sf_dir)
    merged1 = spaced.crossJoin(
        F.broadcast(_argmax_pair(spaced, "mpair1"))
    ).select(
        "mpair1", _apply_merge(F.col("w"), F.col("mpair1")).alias("w"), "cnt"
    )
    # round 2 reads merged1 twice (argmax + rewrite): checkpoint so the
    # chain is evaluated once, the discipline of _bpe_spaced
    merged1 = merged1.localCheckpoint(eager=False)
    merged2 = merged1.crossJoin(
        F.broadcast(_argmax_pair(merged1, "mpair2"))
    ).select(
        "mpair1",
        "mpair2",
        _apply_merge(F.col("w"), F.col("mpair2")).alias("w"),
        "cnt",
    )
    return _sym_pair_freq(merged2, top_n, "mpair1", "mpair2").select(
        F.col("mpair1").alias("merged_pair1"),
        F.col("mpair2").alias("merged_pair2"),
        "pair",
        "freq",
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average log-probability under a Laplace-smoothed
    corpus unigram LM — the perplexity-style fluency filter (CCNet /
    Wikipedia-LM gating): text whose tokens the corpus model finds
    improbable (rare-token soup, corrupted extraction) scores low and
    is dropped before training.

    Two aggregation passes over the exploded token stream, both
    map-side combined: (doc, word) counts (per-doc vocabulary) and the
    corpus model (one row per distinct word). ``p_w = (c_w + 1) /
    (N + V)`` is a division of exact integers, so both engines ln the
    identical double; the per-doc score folds ``cnt·ln p_w`` in
    explicit word order from 0.0 (the doc_entropy ln-parity
    discipline). At 100 TB the (word → ln p) model is vocabulary-sized
    — the score join shuffles on word, never re-touching raw text.
    Columns: doc_id, n_tokens, logprob_per_token.
    """
    docs = load_table(spark, sf_dir, "documents")
    # wc fans out 3 ways (corpus_model→tot, corpus_model→lp, per_doc)
    # and nothing below reuses exchanges across those aliased subtrees
    # (verified r10/r11: 3 Scan parquet, 0 ReusedExchange) — without
    # the cache the tokenize+explode pipeline re-reads the corpus 3×.
    # Cached rows are per-doc vocabularies (≤ token count, usually far
    # fewer) — smaller than the recompute; session-cache lifecycle as
    # in dedup_jaccard. corpus_model itself fans out twice (tot, lp),
    # so it is cached too: vocabulary-sized, saves a second wc-wide
    # shuffle.
    wc = token_counts(docs, "doc_id").cache()
    corpus_model = (
        wc.groupBy("word").agg(F.sum("cnt").alias("ccnt")).cache()
    )
    tot = corpus_model.agg(
        F.sum("ccnt").alias("n_corpus"),
        F.count(F.lit(1)).alias("v_corpus"),
    )
    lp = corpus_model.crossJoin(F.broadcast(tot)).select(
        "word",
        F.log(
            (F.col("ccnt") + 1).cast("double")
            / (F.col("n_corpus") + F.col("v_corpus")).cast("double")
        ).alias("lnp"),
    )
    per_doc = (
        wc.join(lp, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "word",
                        (F.col("cnt").cast("double") * F.col("lnp")).alias(
                            "term"
                        ),
                    )
                )
            ).alias("ts"),
        )
    )
    lpt = fold_sum(F.col("ts"), lambda x: x["term"]) / F.col(
        "n_tokens"
    ).cast("double")
    return per_doc.select(
        "doc_id", "n_tokens", snap6(lpt).alias("logprob_per_token")
    )


# Fixed training-sequence length for vocab_encode packing (the
# doc_chunking convention, halved so sf0.001 docs still split).
VOCAB_SEQ_LEN = 32


def vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids + fixed-length sequence packing — the last hop
    before training shards: rank the corpus vocabulary by frequency
    (id 1 = most frequent), map every token position to its id, and
    pack each document's id stream into ``VOCAB_SEQ_LEN``-token
    training sequences in position order.

    The vocabulary rank is a GLOBAL enumeration, but never a
    single-partition window: ``floor(log2(cnt))`` buckets are monotone
    in the (cnt desc) sort order, so the two-pass offset pattern
    (global_enumerate) ranks within ≤64 constant-bounded buckets in
    parallel and adds broadcast per-bucket offsets — (cnt, word) is a
    total order, so ids are deterministic. The id join shuffles on
    word (vocabulary-scale right side, AQE broadcasts when small); the
    pack groupBy is the only corpus-keyed shuffle, carrying one row
    per 32-token window. The id sequence is emitted CSV-joined (the
    collect_list_agg array-output convention, engine-portable hashing).
    Columns: doc_id, seq_idx, ids_csv, n_ids.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(_toks()).alias("pos", "word")
    )
    # the vocabulary fans out (bucket histogram + the ranked id table)
    # and tok feeds both vc and the id join — uncached, the corpus was
    # tokenized 3x. Caching the vocabulary-sized vc bounds it to 2
    # scans (vc fill + the id join's re-tokenize); caching tok itself
    # would hold every token POSITION of the corpus, costlier than the
    # one extra pass.
    vc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).cache()
    bucketed = vc.withColumn("bkt", F.floor(F.log2("cnt")).cast("long"))
    per_b = bucketed.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    w_off = Window.orderBy(F.desc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = per_b.select(
        "bkt", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("bkt").orderBy(F.desc("cnt"), F.asc("word"))
    vocab = (
        bucketed.join(F.broadcast(offs), "bkt")
        .select(
            "word",
            (F.col("off") + F.row_number().over(w_in)).alias("wid"),
        )
    )
    ids = tok.join(vocab, "word")
    packed = ids.groupBy(
        "doc_id",
        F.floor(F.col("pos") / F.lit(VOCAB_SEQ_LEN)).cast("long").alias(
            "seq_idx"
        ),
    ).agg(F.array_sort(F.collect_list(F.struct("pos", "wid"))).alias("ps"))
    return packed.select(
        "doc_id",
        "seq_idx",
        F.array_join(
            F.transform(F.col("ps"), lambda x: x["wid"].cast("string")),
            ",",
        ).alias("ids_csv"),
        F.size("ps").cast("long").alias("n_ids"),
    )


def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and applied
    in one declarative plan: fit ``P(lang)`` and Laplace-smoothed
    ``P(word | lang)`` on the whole corpus, score every document
    against every class, argmax, and emit the confusion matrix — the
    classic self-consistency probe for a corpus's lang labels (cells
    off the diagonal are mislabeled-language candidates, the
    CCNet/cld3 audit shape).

    Spark-first layout: the (doc, lang, word) count table is ONE
    scan+groupBy and is cached (it fans out into the class-word model,
    the per-class token totals, the vocabulary, and the scoring join —
    the dsir_sample multi-consumer-lineage lesson); the doc→lang base
    is a second, text-column-free scan (cheaper than caching the token
    stream just to avoid it — parquet column pruning does the work).
    The smoothing grid is |vocab| × |classes| (vocabulary-scale, never
    corpus-scale); the scoring join shuffles on word; per-(doc, class)
    log-scores fold ``cnt·ln p`` in explicit word order from 0.0 (the
    unigram_logprob ln-parity discipline), prior added once at the
    end; argmax is a per-doc window with class-name tie-break. Every
    count is an exact integer; ln inputs are identical exact-integer
    ratios in both engines AND every ln output is snapped to the 1e-6
    grid before the fold (ln itself is only ulp-accurate and the
    argmax RANKS by these sums — the ir.py ranking rule). Zero-token
    docs score on priors alone.
    Columns: actual_cls, predicted_cls, n_docs.
    """
    docs = load_table(spark, sf_dir, "documents")
    # NULL lang is a real class (NULL_CLASS): a NULL class key would
    # silently lose its word counts in the model join
    cls = or_null_class(F.col("lang"))
    base = docs.select("doc_id", cls.alias("actual_cls")).cache()
    dwc = token_counts(
        docs.select("doc_id", cls.alias("cls"), "text"), "doc_id", "cls"
    ).cache()
    cw = dwc.groupBy("cls", "word").agg(F.sum("cnt").alias("c"))
    ntok = dwc.groupBy("cls").agg(F.sum("cnt").alias("ntok"))
    vocab = dwc.select("word").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    classes = base.select(
        F.col("actual_cls").alias("cls")
    ).distinct()
    prior = base.groupBy(F.col("actual_cls").alias("cls")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    ndocs = base.agg(F.count(F.lit(1)).alias("n"))

    grid = (
        classes.crossJoin(vocab)
        .join(cw, ["cls", "word"], "left")
        .join(ntok, "cls", "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "cls",
            "word",
            # ln is NOT correctly rounded (java.lang.Math vs libm
            # disagree in the last ulp on ~5% of inputs — module
            # header of operators/ir.py), and the argmax below RANKS
            # by sums of these values, so each ln is snapped to the
            # 1e-6 grid first: the folded scores are then identical
            # doubles in both engines by construction.
            snap6(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (
                        F.coalesce(F.col("ntok"), F.lit(0)) + F.col("v")
                    ).cast("double")
                )
            ).alias("lnp"),
        )
    )
    terms = dwc.select("doc_id", "word", "cnt").join(
        grid.withColumnRenamed("cls", "cand_cls"), "word"
    )
    s_words = (
        terms.groupBy("doc_id", "cand_cls")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "word",
                        (F.col("cnt").cast("double") * F.col("lnp")).alias(
                            "term"
                        ),
                    )
                )
            ).alias("ts")
        )
        .select(
            "doc_id",
            "cand_cls",
            fold_sum(F.col("ts"), lambda x: x["term"]).alias("s"),
        )
    )
    scored = (
        base.crossJoin(
            F.broadcast(
                classes.select(F.col("cls").alias("cand_cls"))
                .join(
                    prior.select(
                        F.col("cls").alias("cand_cls"), "nl"
                    ),
                    "cand_cls",
                )
                .crossJoin(F.broadcast(ndocs))
                .select(
                    "cand_cls",
                    snap6(
                        F.log(
                            F.col("nl").cast("double")
                            / F.col("n").cast("double")
                        )
                    ).alias("lnprior"),
                )
            )
        )
        .join(s_words, ["doc_id", "cand_cls"], "left")
        .select(
            "doc_id",
            "actual_cls",
            "cand_cls",
            (
                F.col("lnprior") + F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand_cls")
    )
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return pred.groupBy(
        "actual_cls", F.col("cand_cls").alias("predicted_cls")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def _source_vocab_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, word, csw, ns, cw, n): the source × vocabulary grid under
    the per-source token statistics — every (source, word) pair with
    its count csw (0 where the source never uses the word), the
    source's token total ns, the word's corpus count cw and the corpus
    total n. NULL source is a real slice (NULL_CLASS).

    ONE scan builds the (source, word) count table; it is cached
    because it fans into the per-source totals, the global word counts
    AND the grid (the dsir_sample multi-consumer-lineage lesson). The
    grid is sources × vocabulary — vocabulary-scale, never corpus-scale
    (the naive_bayes posture). Sources with zero tokens never appear.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        or_null_class(F.col("source")).alias("src"), "text"
    )
    sw = token_counts(docs, "src").cache()
    tot_s = sw.groupBy("src").agg(F.sum("cnt").alias("ns"))
    wglob = sw.groupBy("word").agg(F.sum("cnt").alias("cw"))
    tot = wglob.agg(F.sum("cw").alias("n"))
    return (
        tot_s.crossJoin(wglob)
        .join(sw, ["src", "word"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "src",
            "word",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("csw"),
            "ns",
            "cw",
            "n",
        )
    )


def token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL and Jensen–Shannon divergence of each source's unigram token
    distribution against the whole-corpus distribution — the mixture
    audit a pretraining pipeline runs to quantify how far each slice's
    vocabulary drifts from the blend it feeds (the lexical sibling of
    ``psi_drift``'s numeric-feature drift).

    Built on :func:`_source_vocab_grid` (one scan, sources ×
    vocabulary). Per cell: p = c_sw/n_s, q = c_w/n (q > 0 for every
    vocab word by
    construction, so KL(source ‖ corpus) needs no smoothing);
    KL term p·ln(p/q) for p > 0; JS terms ½·p·ln(p/m) + ½·q·ln(q/m)
    with m = (p+q)/2 over the FULL vocabulary (p = 0 cells still carry
    ½·q·ln(q/m) = ½·q·ln 2). Counts are exact integers; every ln is
    snapped to the 1e-6 grid BEFORE the per-source fold (ln is only
    ulp-accurate across engines and these terms are summed — the
    naive_bayes ranking rule); both folds run in explicit word order
    from 0.0. Sources with zero tokens never appear (no distribution);
    NULL source is a real slice via the ``<null>`` sentinel.
    Columns: source, n_tokens, kl_div, js_div (1e-6 floor-rounded).
    """
    grid = _source_vocab_grid(spark, sf_dir)
    p = F.col("csw").cast("double") / F.col("ns").cast("double")
    q = F.col("cw").cast("double") / F.col("n").cast("double")
    m = (p + q) / F.lit(2.0)
    kl_term = F.when(p > 0, p * snap6(F.log(p / q))).otherwise(
        F.lit(0.0)
    )
    js_term = (
        F.when(
            p > 0, F.lit(0.5) * (p * snap6(F.log(p / m)))
        ).otherwise(F.lit(0.0))
        + F.lit(0.5) * (q * snap6(F.log(q / m)))
    )
    terms = grid.select(
        "src",
        "word",
        "ns",
        kl_term.alias("klt"),
        js_term.alias("jst"),
    )
    agg = terms.groupBy("src").agg(
        F.max("ns").cast("long").alias("n_tokens"),
        F.array_sort(
            F.collect_list(F.struct("word", "klt", "jst"))
        ).alias("ts_arr"),
    )
    return agg.select(
        F.col("src").alias("source"),
        "n_tokens",
        snap6(fold_sum(F.col("ts_arr"), lambda x: x["klt"])).alias("kl_div"),
        snap6(fold_sum(F.col("ts_arr"), lambda x: x["jst"])).alias("js_div"),
    )


def log_odds_words(
    spark: SparkSession, sf_dir: str, top_k: int = 10
) -> DataFrame:
    """Distinctive vocabulary per source slice: Monroe-style log-odds
    ratio of each word in the slice vs the REST of the corpus, with the
    Haldane–Anscombe +0.5 smoothing and its delta-method z-score — the
    "what words characterize this slice?" audit that catches template
    boilerplate and topical drift before mixture weighting (the
    word-level companion of ``token_divergence``'s scalar distance).

    Built on :func:`_source_vocab_grid` (one scan, sources ×
    vocabulary). All counts are exact integers; each of the four ln/χ
    inputs is an exact-integer-ratio double, each ln is snapped to the
    1e-6 grid
    (the z RANKS rows — the ir.py ranking rule), and delta/var/z is
    one mirrored chain. Per source the top ``top_k`` by (z DESC, word
    ASC — total order) are kept. NULL source is a real slice; words
    seen only outside the slice never rank (their z is negative).
    Columns: source, word, n_sw, z_score, rnk.
    """
    grid = _source_vocab_grid(spark, sf_dir)
    csw = F.col("csw").cast("double") + F.lit(0.5)
    nsw = (F.col("ns") - F.col("csw")).cast("double") + F.lit(0.5)
    crw = (F.col("cw") - F.col("csw")).cast("double") + F.lit(0.5)
    nrw = (
        F.col("n") - F.col("ns") - (F.col("cw") - F.col("csw"))
    ).cast("double") + F.lit(0.5)
    delta = snap6(F.log(csw / nsw)) - snap6(F.log(crw / nrw))
    var = (
        F.lit(1.0) / csw
        + F.lit(1.0) / nsw
        + F.lit(1.0) / crw
        + F.lit(1.0) / nrw
    )
    z = snap6(delta / F.sqrt(var))
    from pyspark.sql import Window

    scored = grid.select(
        F.col("src").alias("source"),
        "word",
        F.col("csw").cast("long").alias("n_sw"),
        z.alias("z_score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("z_score"), F.asc("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average log-probability under a Laplace-smoothed
    corpus BIGRAM LM — the second-order fluency filter: word-salad text
    with plausible unigrams but improbable transitions scores low where
    ``unigram_logprob`` cannot see it.

    Bigrams are built ARRAY-LOCALLY (zip of the token array with its
    own tail — no positional self-join, no shuffle before counting).
    Contract: context count c₁(w₁) counts w₁'s appearances as a bigram
    head (not raw unigram frequency — identical except each doc's last
    token, and exactly mirrorable); V is the corpus token vocabulary;
    p(w₂|w₁) = (c(w₁w₂)+1) / (c₁(w₁)+V). Counts are exact integers,
    each ln is snapped before the per-doc fold in explicit bigram
    order (summed ln terms), score divides by the doc's bigram count.
    Docs with < 2 tokens have no bigram and emit nothing. The model
    join shuffles on the bigram key — model tables are
    vocabulary-scale. Columns: doc_id, n_bigrams, logprob_per_bigram.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # (doc_id, word = bigram, cnt)
    dbc = token_counts(docs, "doc_id", toks=bigrams).cache()
    model = dbc.groupBy("word").agg(F.sum("cnt").alias("cbg")).cache()
    heads = model.groupBy(
        F.split_part(F.col("word"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("cbg").alias("c1"))
    vocab = (
        docs.select(F.explode(_toks()).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    lp = (
        model.withColumn(
            "w1", F.split_part(F.col("word"), F.lit(" "), F.lit(1))
        )
        .join(F.broadcast(heads), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "word",
            snap6(
                F.log(
                    (F.col("cbg") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
            ).alias("lnp"),
        )
    )
    per_doc = (
        dbc.join(lp, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "word",
                        (F.col("cnt").cast("double") * F.col("lnp")).alias(
                            "term"
                        ),
                    )
                )
            ).alias("ts"),
        )
    )
    s = fold_sum(F.col("ts"), lambda x: x["term"])
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        snap6(s / F.col("n_bigrams").cast("double")).alias(
            "logprob_per_bigram"
        ),
    )


def _lang_confusion_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true lang, predicted lang, n) confusion cells of ``lang_id``
    against the labeled ``lang`` column — the shared frame under both
    eval keys. Cardinality is bounded by #langs·(#langs+1) (the 'und'
    fallback adds one predicted class), so everything downstream is
    metadata-sized regardless of corpus scale. NULL truth labels are a
    real class (``<null>``, the log_odds convention) — mapping them
    keeps every downstream join NULL-free, where Spark and SQL equality
    semantics would otherwise quietly diverge."""
    truth = load_table(spark, sf_dir, "documents").select(
        "doc_id", or_null_class(F.col("lang")).alias("lang")
    )
    pred = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    return (
        truth.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class evaluation of the ``lang_id`` classifier against the
    labeled ``lang`` column: support, tp/fp/fn and precision / recall /
    F1 — the eval table a pipeline reads before trusting a heuristic
    labeler at corpus scale.

    One confusion-cell aggregate (bounded by #langs², see
    ``_lang_confusion_cells``) feeds three metadata-sized rollups:
    per-truth-class support, per-predicted-class volume, and the
    diagonal. Classes are the UNION of truth and prediction labels, so
    a never-predicted class still reports recall 0 and 'und'
    (predicted, never true) reports precision 0. Each metric is ONE
    IEEE division of exact integers — f1 = 2tp/(2tp+fp+fn) avoids
    compounding rounded precision/recall — 1e-6 floor-snapped; a zero
    denominator yields NULL, not NaN. Columns: cls, support, tp, fp,
    fn, precision, recall, f1.
    """
    cells = _lang_confusion_cells(spark, sf_dir).cache()
    truth = cells.groupBy(F.col("lang").alias("cls")).agg(
        F.sum("n").alias("support")
    )
    pred = cells.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("n").alias("predicted")
    )
    diag = cells.filter(F.col("lang") == F.col("pred_lang")).select(
        F.col("lang").alias("cls"), F.col("n").alias("tp")
    )
    z = F.lit(0).cast("long")
    base = (
        truth.join(pred, "cls", "full")
        .join(diag, "cls", "left")
        .select(
            "cls",
            F.coalesce(F.col("support"), z).alias("support"),
            F.coalesce(F.col("predicted"), z).alias("predicted"),
            F.coalesce(F.col("tp"), z).alias("tp"),
        )
    )
    fp = (F.col("predicted") - F.col("tp")).alias("fp")
    fn = (F.col("support") - F.col("tp")).alias("fn")
    return base.select(
        "cls",
        "support",
        "tp",
        fp,
        fn,
        F.when(
            F.col("predicted") > 0,
            snap6(F.col("tp").cast("double") / F.col("predicted").cast("double")),
        ).alias("precision"),
        F.when(
            F.col("support") > 0,
            snap6(F.col("tp").cast("double") / F.col("support").cast("double")),
        ).alias("recall"),
        F.when(
            (F.col("support") + F.col("predicted")) > 0,
            snap6(
                (F.lit(2.0) * F.col("tp").cast("double"))
                / (F.col("support") + F.col("predicted")).cast("double")
            ),
        ).alias("f1"),
    )


def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the labeled ``lang`` column and the
    ``lang_id`` prediction — chance-corrected agreement, the standard
    one-number check that a heuristic labeler beats marginal guessing
    before its labels steer sampling.

    From the same bounded confusion cells: with n docs, D the diagonal
    mass and S = Σ_c support_c · predicted_c, the textbook
    (p_o − p_e)/(1 − p_e) collapses over the common 1/n² factor to
    **(n·D − S)/(n² − S)** — kappa as ONE IEEE division of exact
    integers (DECIMAL products, no intermediate rounding to compound).
    p_o and p_e are reported alongside as single snapped divisions. A
    degenerate table (n² = S — e.g. a constant predictor over a
    constant truth) yields NULL kappa rather than 0/0. Columns:
    n_docs, observed_agreement, expected_agreement, kappa.
    """
    cells = _lang_confusion_cells(spark, sf_dir).cache()
    truth = cells.groupBy(F.col("lang").alias("cls")).agg(
        F.sum("n").alias("support")
    )
    pred = cells.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("n").alias("predicted")
    )
    marg = (
        truth.join(pred, "cls", "full")
        .select(
            F.coalesce(F.col("support"), F.lit(0)).cast("decimal(19,0)").alias("s"),
            F.coalesce(F.col("predicted"), F.lit(0)).cast("decimal(19,0)").alias("p"),
        )
        .agg(F.sum(F.col("s") * F.col("p")).alias("S"))
    )
    tot = cells.agg(
        F.sum("n").cast("decimal(19,0)").alias("n"),
        F.sum(
            F.when(F.col("lang") == F.col("pred_lang"), F.col("n")).otherwise(
                F.lit(0)
            )
        )
        .cast("decimal(19,0)")
        .alias("D"),
    )
    n = F.col("n")
    nn = (n * n).alias("nn")
    joined = tot.crossJoin(F.broadcast(marg))
    return joined.select(
        n.cast("long").alias("n_docs"),
        F.when(
            n > 0, snap6(F.col("D").cast("double") / n.cast("double"))
        ).alias("observed_agreement"),
        F.when(
            n > 0,
            snap6(F.col("S").cast("double") / (n * n).cast("double")),
        ).alias("expected_agreement"),
        F.when(
            (n * n) != F.col("S"),
            snap6(
                (n * F.col("D") - F.col("S")).cast("double")
                / ((n * n) - F.col("S")).cast("double")
            ),
        ).alias("kappa"),
    )
