"""Invariant tests for the round-7 table-maintenance / range-join /
tokenizer kernels (`cdc_apply`, `ivm_delta_agg`,
`interval_overlap_join`, `dpp_join`, `bpe_merge_round`) — properties
the value-hash oracles imply but are cheaper to localize here when
they break.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata1_spark.operators.relational import cdc_apply, ivm_delta_agg
from bigdata1_spark.operators.temporal import (
    INCIDENT_US,
    interval_overlap_join,
)
from bigdata1_spark.operators.text_analysis import bpe_merge_round
from bigdata1_spark.sources.tables import load_table


def test_cdc_apply_accounts_for_every_log_row(spark, sf_dir):
    """Survivor n_ops plus dropped keys' op counts must equal the raw
    log volume — the apply may drop tombstoned KEYS, never log rows."""
    ev = load_table(spark, sf_dir, "events")
    total_rows = ev.count()
    total_keys = ev.select("user_id", "event_type").distinct().count()
    out = cdc_apply(spark, sf_dir).cache()
    survivors = out.count()
    survivor_ops = out.agg(F.sum("n_ops")).first()[0]
    assert survivors <= total_keys
    # every surviving key's n_ops counts ALL its log rows, so the gap
    # to total_rows is exactly the tombstoned keys' rows
    assert survivor_ops <= total_rows
    assert out.filter(F.col("last_op") == "D").count() == 0
    out.unpersist()


def test_ivm_merge_equals_recompute(spark, sf_dir):
    """The incremental merge must equal recomputing the view over the
    signed multiset — same Spark-side arithmetic, independent plan."""
    from bigdata1_spark.functions.hashing import md5_int

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    sign = F.when(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (
            md5_int(
                F.concat_ws("|", F.lit("ivm"),
                            F.col("o_orderkey").cast("string")),
                15,
            ) % 10 == 0
        ),
        F.lit(-1),
    ).otherwise(F.lit(1))
    recompute = (
        orders.select("o_custkey", sign.alias("s"), "price")
        .groupBy("o_custkey")
        .agg(
            F.sum("s").alias("n_orders"),
            F.round(F.sum(F.col("s") * F.col("price")), 2)
            .cast("double").alias("total_spent"),
        )
        .filter(F.col("n_orders") > 0)
        .select(
            "o_custkey",
            F.col("n_orders").cast("long").alias("n_orders"),
            "total_spent",
        )
    )
    merged = ivm_delta_agg(spark, sf_dir)
    assert merged.exceptAll(recompute).count() == 0
    assert recompute.exceptAll(merged).count() == 0


def test_interval_overlap_bounded_by_incident_length(spark, sf_dir):
    """No interval can overlap an incident by more than the incident's
    own length, so total_overlap_us ≤ n_intervals × 2 h — a broken
    dedupe (pair counted once per shared bin) breaks this first."""
    out = interval_overlap_join(spark, sf_dir)
    bad = out.filter(
        (F.col("total_overlap_us") > F.col("n_intervals") * INCIDENT_US)
        | (F.col("total_overlap_us") <= 0)
        | (F.col("n_intervals") <= 0)
    ).count()
    assert bad == 0


def test_bpe_merge_round_consumes_the_merged_pair(spark, sf_dir):
    """After applying merge (a, b), the pair 'a b' can only survive
    where greedy scanning legitimately leaves an a before a b (e.g.
    'a a b': the left 'a a' merge is not this round's rule, so 'a b'
    remains) — but its post-merge frequency must be strictly below the
    pre-merge argmax, or the merge did nothing."""
    from bigdata1_spark.operators.text_analysis import bpe_pair_counts

    # ordered by (freq DESC, pair ASC): the first row is the argmax
    pre = bpe_pair_counts(spark, sf_dir).first()
    post = bpe_merge_round(spark, sf_dir).cache()
    merged_pair = post.select("merged_pair").first()[0]
    a, b = merged_pair.split(" ")
    assert f"{a}{b}" != merged_pair  # sanity: merge produced one token
    leftover = post.filter(F.col("pair") == merged_pair).select("freq")
    leftover_freq = (leftover.first() or [0])[0]
    assert leftover_freq < pre["freq"], (
        f"merge {merged_pair!r} left its own frequency unreduced"
    )
    post.unpersist()


def test_bpe_merge_round_survives_word_collapse(spark, tmp_path):
    """ADVICE r07 (medium): when the winning merge pair spells a whole
    2-char word, that word collapses to ONE symbol post-merge; the
    unguarded pair expansion built sequence(1, 0) — which Spark
    evaluates as the DESCENDING array [1, 0] — and element_at(arr, 0)
    hard-failed the key. Corpus engineered so the argmax pair is
    ('i','n') and 'in' is itself a vocabulary word."""
    sf = tmp_path / "bpe_collapse"
    sf.mkdir()
    rows = [
        (1, "in in in in", "en", "unit", 11),
        (2, "inner inner", "en", "unit", 11),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    out = bpe_merge_round(spark, str(sf)).collect()

    assert out, "merge round returned no post-merge pairs"
    assert out[0]["merged_pair"] == "i n"
    # the fully-collapsed word 'in' contributes NO pairs; the surviving
    # statistics must come from 'inner' -> 'in n e r'
    pairs = {r["pair"]: r["freq"] for r in out}
    assert pairs == {"in n": 2, "n e": 2, "e r": 2}


def test_bpe_apply_merge_is_safe_for_pipe_bearing_symbols(spark):
    """ADVICE r8 (low): tokens are whitespace-split, so a corpus word
    can contain a literal '|'; with '|' as the boundary delimiter the
    doubled-delimiter encoding was ambiguous and the merge could
    corrupt symbol boundaries — silently, since BOTH engines mirrored
    the expression. The delimiter is now U+001F, which cannot appear
    in a whitespace-split token. Word 'a|b' spaced as 'a | b': merging
    ('a', '|') must yield 'a| b', and merging ('|', 'b') must yield
    'a |b' — with the old delimiter the encoded form '|a||||||b|'
    cannot distinguish symbol bars from boundary bars."""
    from bigdata1_spark.operators.text_analysis import _apply_merge

    df = spark.createDataFrame([("a | b",)], "w string")
    got1 = df.select(
        _apply_merge(F.col("w"), F.lit("a |")).alias("m")
    ).first()["m"]
    assert got1 == "a| b", got1
    got2 = df.select(
        _apply_merge(F.col("w"), F.lit("| b")).alias("m")
    ).first()["m"]
    assert got2 == "a |b", got2
    # multi-char post-merge symbols stay boundary-anchored: 'x yte r'
    # must NOT match the pair ('te', 'r') mid-symbol
    df2 = spark.createDataFrame([("x yte r",)], "w string")
    got3 = df2.select(
        _apply_merge(F.col("w"), F.lit("te r")).alias("m")
    ).first()["m"]
    assert got3 == "x yte r", got3
