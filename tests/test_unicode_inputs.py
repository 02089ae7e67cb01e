"""Unicode twin regressions (round-13 stress axis #5, after volume /
skew / NULL / zero-row): documents.text decorated with CJK, emoji (incl.
ZWJ sequences), precomposed AND combining accents, RTL scripts,
full-width forms, astral-plane letters, and non-ASCII whitespace
(NBSP / U+3000) — the text shapes a real crawl corpus carries that the
pure-ASCII base generator never exercises.

The full-registry sweep runs via ``tools/gen_twin.py unicode`` +
``tools/local_correctness.py`` (banked per axis in
CORRECTNESS_local.json); this file pins the divergence that
sweep caught so it can't regress:

* udtf_analyze: Python ``str.split()`` splits on UNICODE whitespace
  (NBSP, U+3000) that neither engine splits on — every Python-side
  tokenizer goes through ``textfns.py_tokens`` to honor the repo-wide
  tokens() contract.
* the whitespace class itself: Java's ``\\s`` (and Python's under
  re.ASCII) also matches U+000B, RE2's does not, so the oracles'
  ``string_split_regex(text, '\\s+')`` keeps ``"a\\vb"`` whole. Both
  Spark-side tokenizers split on ``textfns.WS_RE`` (RE2's ``\\s``
  spelled out), pinned per code point below.

Cross-engine semantics were MEASURED this round (per-code-point sweep,
each char probed in initial/medial/final/isolated position):
length / ASCII-class regexes / substring / binary ordering agree
on everything probed; lower() diverges on exactly 4 code points
(U+0130 İ, U+03A3 Σ context-sensitive final sigma, U+1C89, U+2C2F) and
upper() on 94 (ß-class expansions) — those stay OUT of the twin's
pools because the engines disagree BY DESIGN (Java SpecialCasing vs
utf8proc simple mapping), documented in tools/gen_twin.py.
"""

from __future__ import annotations

import duckdb
import pytest

from bigdata1_spark import registry
from tests.oracle import assert_matches_oracle

# The caught bug plus the fast text-surface representatives most
# likely to regress under multibyte input (tokenization, char/token
# counting, NFC normalization, chunk substring arithmetic, per-word
# grouping and binary word ordering).
PINNED_KEYS = (
    "udtf_analyze",
    "text_stats",
    "token_count",
    "text_normalize",
    "doc_chunking",
    "quality_filters",
    "lang_id",
    "heavy_hitters",
)


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory, sf_dir) -> str:
    from tools.gen_twin import write_twin

    out = str(tmp_path_factory.mktemp("unicodedata"))
    write_twin("unicode", sf_dir, out)
    return out


@pytest.fixture(scope="module")
def unicode_duck(unicode_dir):
    from bigdata1_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{unicode_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", PINNED_KEYS)
def test_unicode_input_matches_oracle(key, spark, unicode_duck, unicode_dir):
    df = registry.QUERIES[key](spark, unicode_dir)
    assert_matches_oracle(df, unicode_duck, registry.ORACLES[key], key=key)
    spark.catalog.clearCache()


def test_udtf_analyze_ascii_whitespace_contract(spark, unicode_dir):
    """NBSP / U+3000 must stay INSIDE tokens: the per-doc word count
    from the UDTF must equal the built-in tokens() count for every
    document (str.split() would overcount on decorated docs)."""
    from pyspark.sql import functions as F

    from bigdata1_spark.functions.textfns import tokens
    from bigdata1_spark.operators.api_surface import udtf_analyze
    from bigdata1_spark.sources.tables import load_table

    got = {
        r["doc_id"]: r["n_words"]
        for r in udtf_analyze(spark, unicode_dir).collect()
    }
    want = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, unicode_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    # tokens() of NULL text is -1 via size(); the UDTF emits 0 words —
    # compare only non-null-text docs (none exist in the base fixture)
    assert got == {k: max(v, 0) for k, v in want.items()}


# U+0001–U+007F plus every non-ASCII code point Python calls whitespace
# and the format/space characters other tokenizers treat as breaks
WS_PROBES = [chr(c) for c in range(1, 0x80)] + [
    chr(c) for c in range(0x80, 0x10000) if chr(c).isspace()
] + ["\u180e", "\u200b", "\ufeff"]


def test_tokenizers_split_like_the_oracle(spark):
    """``tokens()`` and the Python-side ``py_tokens`` split ``a<c>b``
    exactly where the oracles' ``_DUCK_TOKENS`` does, for every probe
    character c — U+000B is the one Java's ``\\s`` gets wrong."""
    from pyspark.sql import functions as F

    from bigdata1_spark.functions.textfns import py_tokens, tokens

    texts = [(i, f"a{c}b") for i, c in enumerate(WS_PROBES)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", texts)
    want = dict(
        con.execute(
            f"SELECT i, {registry._DUCK_TOKENS} FROM t"
        ).fetchall()
    )
    con.close()
    got = {
        r["i"]: r["w"]
        for r in spark.createDataFrame(texts, "i int, text string")
        .select("i", tokens(F.col("text")).alias("w"))
        .collect()
    }
    bad = [
        (hex(ord(WS_PROBES[i])), want[i], got[i], py_tokens(text))
        for i, text in texts
        if not (want[i] == got[i] == py_tokens(text))
    ]
    assert not bad, bad
