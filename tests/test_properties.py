"""Property-based tests (hypothesis) for the column-expression function
layer — the pieces whose correctness everything else leans on.

Strategy: generate small random corpora, evaluate the Spark expression,
compare against a straightforward Python reference implementation.
One shared session; data round-trips via createDataFrame.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

from bigdata1_spark.functions import hashing, textfns
from bigdata1_spark.operators.basket import fold_sum

WORD = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)
DOC = st.lists(WORD, min_size=0, max_size=30)

SETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_tokens(text: str) -> list[str]:
    return [t for t in __import__("re").split(r"\s+", text) if t]


def _py_ngrams(toks: list[str], n: int) -> list[str]:
    """Every n-gram in order; a doc shorter than n is one whole-doc
    gram ('' for no tokens)."""
    return [
        " ".join(toks[i:i + n]) for i in range(max(len(toks) - (n - 1), 1))
    ]


def _py_shingles(toks: list[str], n: int = 3) -> list[str]:
    return list(dict.fromkeys(_py_ngrams(toks, n)))


NGRAM_NS = (2, 3, 5)


@given(docs=st.lists(DOC, min_size=1, max_size=8))
# 0, 1, n-1 (for every n in NGRAM_NS) and many tokens, with repeats
@example(docs=[[], ["a"], ["a", "b"], ["a", "b", "a", "b"],
               ["x", "y", "x", "y", "x", "y", "z", "x", "y", "x", "y", "z"]])
@SETTINGS
def test_tokens_and_shingles_match_reference(spark, docs):
    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    toks = textfns.tokens(F.col("text"))
    rows = df.select(
        toks.alias("toks"),
        textfns.word_shingles(toks, 3).alias("sh"),
        *[textfns.ngrams(toks, n).alias(f"g{n}") for n in NGRAM_NS],
    ).collect()
    for text, row in zip(texts, rows):
        toks = _py_tokens(text)
        assert row["toks"] == toks
        assert row["sh"] == _py_shingles(toks)
        for n in NGRAM_NS:
            assert row[f"g{n}"] == _py_ngrams(toks, n), (n, toks)


@given(xs=st.lists(st.floats(allow_nan=False, width=64), max_size=30))
# order-sensitive: left to right from 0.0 these give 0.0 and 1.0, where
# an exact sum gives 1.0 twice and a right-to-left fold 0.0 twice
@example(xs=[1e16, 1.0, -1e16])
@example(xs=[-1e16, 1e16, 1.0])
@SETTINGS
def test_fold_sum_is_the_left_fold(spark, xs):
    """basket.fold_sum is bit-equal to Python's left fold from 0.0."""
    df = spark.createDataFrame([(xs,)], "xs array<double>")
    got = df.select(fold_sum(F.col("xs"), lambda x: x).alias("s")).first()["s"]
    want = 0.0
    for x in xs:
        want += x
    assert got.hex() == want.hex(), (xs, got, want)


@given(docs=st.lists(st.lists(WORD, min_size=1, max_size=25), min_size=2,
                     max_size=6))
@SETTINGS
def test_minhash_estimates_jaccard(spark, docs):
    """Signature agreement rate must be a plausible Jaccard estimate:
    exact-equal sets agree on every component; disjoint sets agree on
    (almost) none; and the estimate is within a loose Hoeffding band."""
    df = spark.createDataFrame(
        [(i, list(dict.fromkeys(d))) for i, d in enumerate(docs)],
        ["doc_id", "toks"],
    )
    sig = df.select(
        "doc_id", "toks",
        hashing.minhash_from_hashes(
            F.transform(F.col("toks"), lambda s: F.xxhash64(s))
        ).alias("sig"),
    ).collect()
    for a in sig:
        for b in sig:
            if a["doc_id"] >= b["doc_id"]:
                continue
            sa, sb = set(a["toks"]), set(b["toks"])
            jacc = len(sa & sb) / len(sa | sb)
            agree = sum(
                x == y for x, y in zip(a["sig"], b["sig"])
            ) / hashing.MINHASH_K
            if jacc == 1.0:
                assert agree == 1.0
            else:
                # k=32 → band of ~4 sigma ≈ 0.36
                assert abs(agree - jacc) <= 0.40


@given(vals=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=50))
@SETTINGS
def test_let_binding_is_transparent(spark, vals):
    """let(x, f) must equal f(x) for pure column expressions."""
    df = spark.createDataFrame([(vals,)], ["xs"])
    direct = df.select(
        (F.array_max("xs") - F.array_min("xs")).alias("r")
    ).first()["r"]
    bound = df.select(
        hashing.let(
            F.col("xs"), lambda x: F.array_max(x) - F.array_min(x)
        ).alias("r")
    ).first()["r"]
    assert direct == bound


def test_simhash_long_docs_match_per_bit_reference(spark):
    """Docs with >255 distinct shingles fold over their bottom-255 hash
    values; the packed 8-bit-lane arithmetic must equal a naive one-fold-
    per-bit majority over the same capped multiset (this is exactly the
    computation that lane-carry overflow used to corrupt)."""
    docs = [
        (0, [f"tok{i}" for i in range(600)]),
        (1, [f"tok{i}" for i in range(590)] + [f"alt{i}" for i in range(10)]),
        (2, [f"other{i}" for i in range(600)]),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "sh"])
    capped = F.slice(
        F.array_sort(F.transform(F.col("sh"), lambda s: F.xxhash64(s))),
        1,
        hashing.SIMHASH_MAX_SHINGLES,
    )
    def bit_fold(b):  # bind the loop variable (aggregate wants 2-arg lambdas)
        return lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(
            F.lit(1).cast("long")
        )

    naive = F.lit(0).cast("long")
    for b in range(64):
        ones = F.aggregate(capped, F.lit(0).cast("long"), bit_fold(b))
        bit = (
            F.when(ones * 2 >= F.size(capped), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        naive = naive + F.shiftleft(bit, b)
    rows = df.select(
        "doc_id",
        hashing.simhash64(F.col("sh")).alias("packed"),
        naive.alias("naive"),
    ).collect()
    fps = {}
    for r in rows:
        assert r["packed"] == r["naive"], f"doc {r['doc_id']} lane overflow"
        fps[r["doc_id"]] = r["packed"]
    # near-identical long docs stay near; unrelated docs stay far
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(fps[0], fps[1]) < ham(fps[0], fps[2])


@given(texts=st.lists(st.text(max_size=40), min_size=1, max_size=10))
@SETTINGS
def test_simhash_identical_docs_zero_hamming(spark, texts):
    """Identical token sets → identical fingerprints; fingerprint is a
    pure function of the shingle set."""
    df = spark.createDataFrame([(t,) for t in texts] * 2, ["text"])
    fp = df.select(
        "text",
        hashing.simhash64(
            textfns.word_shingles(textfns.tokens(F.col("text")), 3)
        ).alias("fp"),
    ).collect()
    by_text: dict[str, set[int]] = {}
    for r in fp:
        by_text.setdefault(r["text"], set()).add(r["fp"])
    for fps in by_text.values():
        assert len(fps) == 1


# Shingle-hash sets with a skewed document frequency: half the draws
# come from three hot hashes, the rest from a wider cold range, so the
# rarest-first order differs from plain hash order and ties in df are
# common. Empty sets are allowed.
HASH = st.one_of(st.sampled_from([-7, 3, 5]), st.integers(-40, 40))
HASH_SET = st.lists(HASH, min_size=0, max_size=9).map(
    lambda xs: sorted(set(xs))
)


@pytest.mark.parametrize("t", [0.5, 0.75])
@given(sets=st.lists(HASH_SET, min_size=2, max_size=8))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_jaccard_matches_brute_force(spark, sf_dir, t, sets):
    """The prefix-filtered PPJoin in ``dedup_jaccard`` must return
    exactly the all-pairs Jaccard ≥ t set, with the same double, under
    any df order — the fixed testdata only exercises one."""
    from itertools import combinations

    from bigdata1_spark.operators import dedup

    df = spark.createDataFrame(
        list(enumerate(sets)), "doc_id long, hs array<long>"
    )
    got = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in dedup.dedup_jaccard(
            spark, sf_dir, threshold=t, hashed_shingles=df
        ).collect()
    }
    want = set()
    for (i, a), (j, b) in combinations(enumerate(sets), 2):
        common = len(set(a) & set(b))
        union = len(a) + len(b) - common
        if union and common / union >= t:
            want.add((i, j, common / union))
    assert got == want


# (group, value) rows for the shared rank helpers in operators/stats.py:
# few distinct values (ties are common), groups of every small size and
# a NULL group key. Values are small integers held as doubles, so every
# median (lo + hi)/2 is exact in both the helper and the reference.
GROUP_ROWS = st.lists(
    st.tuples(st.sampled_from(["a", "b", None]), st.integers(-3, 3)),
    min_size=1,
    max_size=20,
)
RANK_SETTINGS = settings(SETTINGS, max_examples=12)


@given(rows=GROUP_ROWS)
@example(rows=[("a", 1), ("b", 2), ("b", 2), ("b", 5), (None, 3), (None, 4)])
@example(rows=[(None, 0)])
@RANK_SETTINGS
def test_middle_median_matches_statistics_median(spark, rows):
    """``middle_median`` equals ``statistics.median`` per group, with the
    group size as ``{out}_n`` — one-row, odd and even groups, ties, and
    the NULL group as a group of its own."""
    from statistics import median

    from bigdata1_spark.operators.stats import middle_median

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    got = {
        r["g"]: (r["med_n"], r["med"])
        for r in middle_median(df, "g", "v", "med").collect()
    }
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    assert got == {g: (len(vs), median(vs)) for g, vs in groups.items()}


@given(vals=st.lists(st.integers(-3, 3), min_size=1, max_size=20))
@example(vals=[7])
@example(vals=[1, 1, 2, 3, 3, 3])
@RANK_SETTINGS
def test_doubled_rank_is_twice_the_average_rank(spark, vals):
    """``doubled_rank`` over a (value, frequency) marginal equals twice
    the tie-averaged rank of each value, ranked row by row in Python."""
    from bigdata1_spark.operators.stats import doubled_rank

    marg = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("mf"))
    )
    ranked = marg.select("v", doubled_rank("v").alias("dr"))
    got = {r["v"]: r["dr"] for r in ranked.collect()}
    ranks: dict = {}
    for i, v in enumerate(sorted(vals), 1):
        ranks.setdefault(v, []).append(i)
    assert got == {v: 2 * sum(r) // len(r) for v, r in ranks.items()}
    assert all(2 * sum(r) % len(r) == 0 for r in ranks.values())


# Money cells in units of 1e-4, as dec4 holds them. |cell| ≤ 2·10^17
# keeps a group of four below 2^53 cents (the range where the cents pin
# is exact on both engines) while its sum still reaches 18 significant
# digits; the mapped strategy makes half-cent ties (x.xx50).
MONEY_CELL = st.one_of(
    st.integers(-2 * 10**17, 2 * 10**17),
    st.integers(-2 * 10**15, 2 * 10**15).map(lambda m: m * 100 + 50),
)


def _money_str(units: int) -> str:
    sign, units = ("-" if units < 0 else ""), abs(units)
    return f"{sign}{units // 10**4}.{units % 10**4:04d}"


@given(groups=st.lists(st.lists(MONEY_CELL, min_size=1, max_size=4),
                       min_size=1, max_size=6))
# 18-digit sums landing on a half cent: a double cast before the round
# lands on a double just below the tie and rounds it down
@example(groups=[[123456789012345600, 50], [-123456789012345600, -50],
                 [50], [-50], [7]])
@SETTINGS
def test_cents_matches_duckdb(spark, groups):
    """``cents`` over an exact DECIMAL(18,4) sum equals DuckDB's
    ``CAST(ROUND(x, 2) AS DOUBLE)`` bit for bit — half-cent ties round
    away from zero in decimal on both engines, and the rounded sum
    casts to the same double."""
    import duckdb

    from bigdata1_spark.operators.basket import cents, dec4

    rows = [(g, _money_str(u)) for g, cells in enumerate(groups)
            for u in cells]
    df = spark.createDataFrame(rows, "g int, x string")
    got = {
        r["g"]: r["c"]
        for r in df.groupBy("g").agg(cents(F.sum(dec4("x"))).alias("c"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(
        "SELECT g, CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "FROM t GROUP BY g"
    ).fetchall())
    assert got == want


MD5_NS = (1, 2, 8, 15)


@given(texts=st.lists(st.none() | st.text(max_size=12), min_size=1,
                      max_size=8))
# empty, NULL, ASCII and 2-, 3- and 4-byte UTF-8 characters
@example(texts=["", None, "a", "é", "中文", "😀x"])
@SETTINGS
def test_md5_int_matches_duckdb(spark, texts):
    """``hashing.md5_int`` equals the oracles' ``_duck_md5_int`` for
    every digit count in use, over unicode, empty and NULL strings —
    the generated rows, samples and fingerprints the oracles regenerate
    rest on this one equality."""
    import duckdb

    from bigdata1_spark.registry import _duck_md5_int

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "i int, s string")
    got = {
        r[0]: tuple(r[1:])
        for r in df.select(
            "i", *[hashing.md5_int("s", n) for n in MD5_NS]
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = ", ".join(_duck_md5_int("s", n) for n in MD5_NS)
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(f"SELECT i, {sql} FROM t").fetchall()
    }
    assert got == want
