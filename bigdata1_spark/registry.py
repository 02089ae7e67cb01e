"""Query registry: SURVEY.md §2 query key → (Spark impl, DuckDB oracle SQL).

Single source of truth consumed by ``__spark_entry__.py`` (driver
contract), ``bench.py``, and the test suite's oracle-differential tests.

Every entry's Spark DataFrame and oracle SQL must agree on column NAMES
and (order-insensitive) VALUES; the driver sorts columns by name and
hashes values. Keep aliases synchronized on both sides.

Determinism rules used throughout so hashes match bit-for-bit:
* double sums go through DECIMAL(18,4) (``basket.dec4``) then cast back
  (order-independent);
* a wide decimal money sum is rounded to cents IN DECIMAL before its
  double cast (``basket.cents``, the oracles' ``CAST(ROUND(x, 2) AS
  DOUBLE)``): past 17 significant digits the engines convert a decimal
  to double differently;
* ratios divide exact integer counts in double (one IEEE op, identical in
  both engines);
* a float output that is not an exact sum or a single-op ratio is
  pinned to the 1e-6 grid with ``basket.snap6`` (floor(x*1e6 + 0.5)/1e6,
  pure double arithmetic), never ``F.round``, which rounds through the
  decimal string and so breaks .5 ties differently from DuckDB;
* every ranking has a total-order tie-break;
* timestamps are projected to strings/dates (engines agree under UTC).

Oracles are composed from shared SQL fragments, each spelled once in
the "Shared oracle fragments" section beside the engine helper it
mirrors: ``_duck_tokens``/``_DUCK_TOKENS`` and ``_DUCK_WORDS``
(``textfns.tokens``), ``_duck_ngram`` (``textfns.ngrams``, any n, over
any list), ``_DUCK_SHINGLE_SETS`` and ``_duck_shingle_overlap`` (the
shingle-set chain and ``dedup._verify``'s overlap counts), with
``_DUCK_JACCARD``/``_DUCK_JACCARD_PAIRS``; ``_DUCK_BASKETS``
(``basket.basket_items``); ``_duck_vectors``
(``similarity.load_vectors``); ``_DUCK_ORDER_PAIR``,
``_DUCK_CO_SUPPLIER_EDGES`` and ``_DUCK_BIDIR`` (``graph._order_pairs``,
``graph._co_supplier_edges``, ``graph.symmetrize``); and
``_DUCK_PAGERANK_EDGES`` (``graph.pagerank``'s customer–supplier
graph). An oracle builds on them and never writes one out again.
Single-expression numeric pins (the 1e-6 floor, the DECIMAL(18,4) sum,
the cents ROUND) stay inline under the rules above.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from bigdata1_spark.operators import basket, micro
from bigdata1_spark.sources import generator

# Every harness calls a key as fn(spark, sf_dir), so an operator's fixed
# settings are module constants; a further parameter needs a caller that
# sets it (tests/test_plans.py lists the few that have one).
QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _cache_scoped(key: str, fn: QueryFn) -> QueryFn:
    """Enforce the repo's session-cache convention at the one choke point
    every harness goes through (driver ``queries()``, ``bench.py``, the
    oracle sweeps): clear the catalog cache on ENTRY to each registry key.

    Operators whose returned frame still lazily depends on a cached
    intermediate (ir.py tf/dl tables, stats.py cells, similarity.py
    centroids) cannot unpersist before returning — the caller hasn't
    acted yet. Clearing at the START of the next key instead bounds a
    sweep's storage to the single in-flight key, no matter how many
    keys run in one session (the r13 finding: a 241-key sf3
    sweep otherwise accumulates never-released entries). Clearing the
    cache never changes results — lineage recomputes — and operators
    that localCheckpoint (dedup.py, text_analysis.py) already released
    their caches eagerly, so entry-clear is a no-op for them.
    """

    def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    scoped.__name__ = f"{key}__cache_scoped"
    scoped.__qualname__ = scoped.__name__
    scoped.__wrapped__ = fn  # plan tests / introspection reach the raw op
    return scoped


def register(key: str, fn: QueryFn, oracle: str | None = None) -> None:
    if key in QUERIES:
        raise KeyError(f"duplicate query key {key!r}")
    QUERIES[key] = _cache_scoped(key, fn)
    if oracle is not None:
        ORACLES[key] = oracle


# ---------------------------------------------------------------------------
# Shared oracle fragments. Each SQL relation or text kernel that more than
# one oracle uses is spelled once here, beside the name of the engine
# helper it mirrors, and the oracles are composed from it.
# ---------------------------------------------------------------------------


def _duck_tokens(text: str) -> str:
    """``textfns.tokens``: whitespace tokens of ``text``, empties dropped."""
    return rf"list_filter(string_split_regex({text}, '\s+'), x -> len(x) > 0)"


_DUCK_TOKENS = _duck_tokens("text")
# The (doc_id, w) token lists every document-text oracle starts from.
_DUCK_WORDS = f"words AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents)"


def _duck_ngram(n: int, w: str = "w", i: str = "i") -> str:
    """``textfns.ngrams``: the space-joined n-gram of list ``w`` starting
    at 1-based index ``i``, cut short at the list's end; NULL for a NULL
    list."""
    tail = "".join(
        f", CASE WHEN len({w}) >= {i} + {k} THEN ' ' || {w}[{i}+{k}] ELSE '' END"
        for k in range(1, n)
    )
    return f"CASE WHEN {w} IS NULL THEN NULL ELSE concat(coalesce({w}[{i}], ''){tail}) END"


# ``textfns.word_shingles`` over a ``words`` CTE: sh holds every word
# 3-gram, d each doc's distinct shingle set (doc_id, s).
_DUCK_SHINGLE_SETS = f"""sh AS (
      SELECT doc_id, {_duck_ngram(3)} AS s
      FROM words,
           (SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i)
    ), d AS (
      SELECT DISTINCT doc_id, s FROM sh
    )"""


def _duck_shingle_overlap(id1: str = "id1", id2: str = "id2") -> str:
    """``dedup._verify``: each doc's shingle-set size (sizes: doc_id, n)
    and the shared-shingle count c of every pair of docs, lower id first,
    that share a shingle (common: id1, id2, c)."""
    return f"""{_DUCK_WORDS}, {_DUCK_SHINGLE_SETS}, sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS {id1}, b.doc_id AS {id2}, COUNT(*) AS c
      FROM d a JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


# ``dedup_jaccard``'s ratio over common and sizes, and its >= 0.5 pairs.
_DUCK_JACCARD = "CAST(c AS DOUBLE) / CAST(s1.n + s2.n - c AS DOUBLE)"
_DUCK_JACCARD_PAIRS = f"""FROM common
      JOIN sizes s1 ON id1 = s1.doc_id
      JOIN sizes s2 ON id2 = s2.doc_id
      WHERE {_DUCK_JACCARD} >= 0.5"""

# ``basket.basket_items``: the distinct (basket, item) pairs.
_DUCK_BASKETS = "baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"


def _duck_vectors(label: bool = False) -> str:
    """``similarity.load_vectors``: (vec_id, [label,] v), ``v`` the
    embedding as DOUBLE[]."""
    cols = "vec_id, label" if label else "vec_id"
    return f"SELECT {cols}, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"


# ``graph._order_pairs``: suppliers x and y of one order, x the lower.
_DUCK_ORDER_PAIR = "x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey"
# ``graph._co_supplier_edges``: the distinct undirected edges (a, b), a < b.
_DUCK_CO_SUPPLIER_EDGES = f"""SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
      FROM lineitem x JOIN lineitem y ON {_DUCK_ORDER_PAIR}"""
# ``graph.symmetrize`` of the edge CTE e0: both orientations (src, dst).
_DUCK_BIDIR = """bidir AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b AS src, a AS dst FROM e0
    )"""
# ``graph.pagerank``'s customer–supplier graph: customer c and supplier
# -s (disjoint ids), edges both ways, out-degree per source node.
_DUCK_PAGERANK_EDGES = """cs AS (
      SELECT DISTINCT o_custkey AS c, -l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM cs
      UNION ALL
      SELECT s AS src, c AS dst FROM cs
    ),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)"""


# ---------------------------------------------------------------------------
# Flagship basket queries (reference parity — SURVEY.md §2.3/2.4/2.6)
# ---------------------------------------------------------------------------

register(
    "topk_window",
    basket.top5_per_month,
    f"""
    WITH {_DUCK_BASKETS}, counts AS (
      SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
             b.l_partkey AS item, COUNT(*) AS cnt
      FROM baskets b JOIN orders o ON b.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )
    SELECT month, item, cnt, rn FROM (
      SELECT month, item, cnt,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY month ORDER BY cnt DESC, item ASC) AS BIGINT) AS rn
      FROM counts
    ) WHERE rn <= 5
    """,
)

register(
    "groupby_sum",
    basket.revenue_per_item_month,
    """
    SELECT l.l_partkey AS item,
           strftime(o.o_orderdate, '%Y-%m') AS month,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)

register(
    "itemset_freq",
    basket.itemset_frequencies,
    f"""
    WITH {_DUCK_BASKETS}, members AS (
      SELECT CAST(l_partkey AS VARCHAR) AS itemset,
             CAST(1 AS BIGINT) AS n_items
      FROM baskets
      UNION ALL
      SELECT CAST(a.l_partkey AS VARCHAR) || ',' ||
             CAST(b.l_partkey AS VARCHAR) AS itemset,
             CAST(2 AS BIGINT) AS n_items
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT itemset, n_items, COUNT(*) AS freq
    FROM members GROUP BY 1, 2
    """,
)

register(
    "assoc_rules",
    basket.assoc_rules,
    f"""
    WITH {_DUCK_BASKETS}, total AS (
      SELECT COUNT(DISTINCT l_orderkey) AS total_baskets FROM baskets
    ), item_counts AS (
      SELECT l_partkey AS item, COUNT(*) AS item_cnt FROM baskets GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS i1, b.l_partkey AS i2, COUNT(*) AS pair_cnt
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), directed AS (
      SELECT i1 AS antecedent, i2 AS consequent, pair_cnt FROM pairs
      UNION ALL
      SELECT i2 AS antecedent, i1 AS consequent, pair_cnt FROM pairs
    )
    SELECT d.antecedent, d.consequent, d.pair_cnt,
           CAST(d.pair_cnt AS DOUBLE) / CAST(t.total_baskets AS DOUBLE)
             AS support,
           CAST(d.pair_cnt AS DOUBLE) / CAST(ic.item_cnt AS DOUBLE)
             AS confidence
    FROM directed d
    JOIN item_counts ic ON d.antecedent = ic.item
    CROSS JOIN total t
    """,
)

register(
    "join_self_pairs",
    basket.pair_counts,
    f"""
    WITH {_DUCK_BASKETS}
    SELECT a.l_partkey AS i1, b.l_partkey AS i2, COUNT(*) AS pair_cnt
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    """,
)

# ---------------------------------------------------------------------------
# Micro-operators (SURVEY.md §2.1/2.2/2.4/2.5)
# ---------------------------------------------------------------------------

register(
    "scan_parquet",
    micro.scan_parquet,
    """
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem WHERE l_quantity >= 30
    """,
)

register(
    "project_split",
    micro.project_split,
    """
    SELECT o_orderkey,
           string_split(o_orderpriority, '-')[1] AS prio_code,
           CAST(len(string_split(o_orderpriority, '-')) AS BIGINT)
             AS n_tokens
    FROM orders
    """,
)

register(
    "project_month",
    micro.project_month,
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month FROM orders
    """,
)

register(
    "project_cast",
    micro.project_cast,
    """
    SELECT o_orderkey,
           CAST(string_split(o_orderpriority, '-')[1] AS INTEGER)
             AS prio_num,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor
    FROM orders
    """,
)

register(
    "filter_predicate",
    micro.filter_predicate,
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 25
      AND l_discount BETWEEN 0.02 AND 0.06
    """,
)

register(
    "explode_items",
    micro.explode_items,
    """
    SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem
    """,
)

register(
    "array_ops",
    micro.array_ops,
    """
    WITH b AS (
      SELECT l_orderkey,
             list_sort(list(DISTINCT l_partkey)) AS items
      FROM lineitem GROUP BY 1
    )
    SELECT l_orderkey,
           CAST(len(items) AS BIGINT) AS n_items,
           items[1] AS first_item,
           COALESCE(array_to_string(items[2:], ','), '') AS rest_csv
    FROM b
    """,
)

register(
    "scalar_round",
    micro.scalar_round,
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))), 2) AS VARCHAR) AS DOUBLE) AS net_price,
           CAST(CAST(ROUND(CAST(l_discount AS DECIMAL(18,4)) * 100, 2) AS VARCHAR) AS DOUBLE) AS discount_pct
    FROM lineitem
    """,
)

register(
    "scalar_concat",
    micro.scalar_concat,
    """
    SELECT l_orderkey, l_linenumber,
           concat_ws('|', l_returnflag, l_linestatus, l_partkey) AS tag
    FROM lineitem
    """,
)

register(
    "groupby_count",
    micro.groupby_count,
    f"""
    WITH {_DUCK_BASKETS}
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           b.l_partkey AS item, COUNT(*) AS cnt
    FROM baskets b JOIN orders o ON b.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)

register(
    "global_count",
    micro.global_count,
    """
    SELECT COUNT(*) AS total_baskets FROM orders
    """,
)

register(
    "collect_list_agg",
    micro.collect_list_agg,
    """
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           array_to_string(list_sort(list(DISTINCT l.l_partkey)), ',')
             AS items_csv,
           CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)

register(
    "sort_desc",
    micro.sort_desc,
    """
    SELECT l_partkey AS item, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1 ORDER BY cnt DESC, item ASC
    """,
)

register(
    "sort_asc",
    micro.sort_asc,
    """
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)

register(
    "limit_n",
    micro.limit_n,
    """
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey LIMIT 100
    """,
)

register(
    "join_broadcast",
    micro.join_broadcast,
    """
    SELECT p.p_brand AS brand,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)

register(
    "setop_union",
    micro.setop_union,
    """
    SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'R'
    UNION
    SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
    """,
)

register(
    "setop_intersect",
    micro.setop_intersect,
    """
    SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT
    SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
    """,
)

register(
    "setop_except",
    micro.setop_except,
    """
    SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT
    SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
    """,
)

# Seeded generator round-trip, FULL value-hash oracle (round 7): every
# generated row is a pure md5 function of (seed, bill_id), so DuckDB
# regenerates the identical corpus in SQL — the python_datasource
# recipe. The Spark side additionally round-trips through the Format A
# renderer + parser, so a hash match also certifies the text codec.
# Constants pinned to gen_billings defaults: n=1000, seed=42,
# k_max = min(9, |FOOD_VOCAB|) = 8, 365-day 2015 date range.
register(
    "gen_billings",
    generator.gen_billings_query,
    """
    WITH seq AS (
      SELECT unnest(generate_series(0, 999)) AS bill_id
    ), base AS (
      SELECT bill_id,
             DATE '2015-01-01' + CAST(CAST('0x' ||
               substr(md5('42|date|' || bill_id), 1, 8) AS BIGINT)
               % 365 AS INT) AS bill_date,
             CAST(CAST('0x' ||
               substr(md5('42|k|' || bill_id), 1, 8) AS BIGINT)
               % 8 + 1 AS INT) AS k
      FROM seq
    ), words AS (
      SELECT unnest(['uova', 'latte', 'pane', 'vino', 'pesce',
                     'insalata', 'formaggio', 'dolce']) AS w
    ), ranked AS (
      SELECT b.bill_id, b.bill_date, b.k, w.w,
             ROW_NUMBER() OVER (
               PARTITION BY b.bill_id
               ORDER BY md5('42|w|' || b.bill_id || '|' || w.w), w.w
             ) AS rn
      FROM base b CROSS JOIN words w
    )
    SELECT strftime(bill_date, '%Y-%m-%d') AS bill_date,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           string_agg(w, ',' ORDER BY w) AS items_csv
    FROM ranked WHERE rn <= k
    GROUP BY bill_id, bill_date
    """,
)

from bigdata1_spark.sources import billing  # noqa: E402

register(
    "billing_total_b",
    billing.total_per_month_b,
    """
    SELECT 'p' || CAST(l.l_partkey AS VARCHAR) AS item,
           strftime(o.o_orderdate, '%Y-%m') AS month,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_extendedprice IS NOT NULL AND o.o_orderdate IS NOT NULL
    GROUP BY 1, 2
    """,
)

# JSONL source/sink round-trip; the distinct-md5 count pins payload
# equality through the escape/unescape cycle, not just row counts.
from bigdata1_spark.sources import jsonl  # noqa: E402

_TEXT_SOURCE_ORACLE = """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT md5(text)) AS n_texts
    FROM documents GROUP BY lang
    """

register("scan_jsonl", partial(jsonl.scan_format, fmt="json"), _TEXT_SOURCE_ORACLE)

# Same rollup through the CSV source/sink pair (header + quoting path).
register("scan_csv", partial(jsonl.scan_format, fmt="csv"), _TEXT_SOURCE_ORACLE)

# Same rollup through the bundled columnar ORC source/sink pair.
register("scan_orc", partial(jsonl.scan_format, fmt="orc"), _TEXT_SOURCE_ORACLE)

# Same rollup through the Spark-4 native XML source/sink pair (the
# escape path: &/</newlines in text must round-trip through markup).
register("scan_xml", partial(jsonl.scan_format, fmt="xml"), _TEXT_SOURCE_ORACLE)

# Custom Python DataSource (Spark 4 V2 API): every row is a pure md5
# function of its row id, so DuckDB regenerates the identical table.
from bigdata1_spark.sources import pydatasource  # noqa: E402


def _hex4(expr: str) -> str:
    """SQL for int(substr-4-hex, 16) of a 4-char hex expression."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    )


register(
    "python_stream_source",
    pydatasource.python_stream_source,
    f"""
    WITH seq AS (
      SELECT unnest(generate_series(0, {pydatasource.STREAM_ROWS - 1}))
        AS j
    ), h AS (
      SELECT j, md5(CAST(j AS VARCHAR)) AS hx FROM seq
    ), rows_ AS (
      SELECT j, ({_hex4("substr(hx, 5, 4)")}) % 12 + 1 AS month FROM h
    )
    SELECT CAST(month AS INT) AS month,
           COUNT(*) AS n,
           CAST(SUM(j) AS BIGINT) AS bid_sum
    FROM rows_ GROUP BY month
    """,
)

register(
    "python_datasource",
    pydatasource.python_datasource,
    f"""
    WITH seq AS (
      SELECT unnest(generate_series(0, {pydatasource.PYDS_ROWS - 1})) AS j
    ), h AS (
      SELECT j, md5(CAST(j AS VARCHAR)) AS hx FROM seq
    ), rows_ AS (
      SELECT j,
             ({_hex4("substr(hx, 1, 4)")}) % 28 + 1 AS day,
             ({_hex4("substr(hx, 5, 4)")}) % 12 + 1 AS month,
             ({_hex4("substr(hx, 9, 4)")}) % 500 AS cost
      FROM h
    )
    SELECT CAST(month AS INT) AS month,
           COUNT(*) AS n,
           CAST(SUM(day) AS BIGINT) AS day_sum,
           CAST(SUM(cost) AS BIGINT) AS cost_sum
    FROM rows_ GROUP BY month
    """,
)

# The WRITE half of the plugin API (DataSourceWriter, two-phase
# commit): rows must survive stage→commit→publish, read back from the
# committed files only; the oracle recomputes the payload rollup.
register(
    "python_datasink",
    pydatasource.python_datasink,
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)

# Hive-partitioned write + planning-time partition-pruned read (the
# function asserts PartitionFilters structurally before returning).
register(
    "scan_partitioned",
    jsonl.scan_partitioned,
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'fr' GROUP BY source
    """,
)

# ---------------------------------------------------------------------------
# North-star extensions (SURVEY.md §2.9): dedup, similarity, text analysis
# ---------------------------------------------------------------------------

from bigdata1_spark.functions.textfns import LANG_MARKERS, STOPWORDS  # noqa: E402
from bigdata1_spark.operators import (  # noqa: E402
    dedup,
    multimodal,
    similarity,
    text_analysis,
)

# The stoplist and the language markers are generated from the Python
# constants of functions/textfns.py, so the oracles use the same lists.
_DUCK_STOPLIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
_DUCK_MARKERS = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in sorted(LANG_MARKERS.items()) for w in ws
)
_DUCK_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _duck_hyperplane_bucket(
    vexpr: str,
    seed: int | None = None,
    n_planes: int | None = None,
    dim: int | None = None,
) -> str:
    """The SAME random-hyperplane LSH bucket key the Spark operators
    block/filter on, rebuilt as DuckDB SQL from the same seeded plane
    literals — both engines compute an identical deterministic function
    of the vector, so bucket-dependent results hash-match. Defaults to
    dedup_embedding's parameters."""
    from bigdata1_spark.functions.vectors import hyperplane_planes
    from bigdata1_spark.operators.dedup import EMB_LSH_PLANES, EMB_LSH_SEED

    seed = EMB_LSH_SEED if seed is None else seed
    n_planes = EMB_LSH_PLANES if n_planes is None else n_planes
    dim = similarity.EMB_DIM if dim is None else dim
    key = "CAST(0 AS BIGINT)"
    for p in hyperplane_planes(n_planes, dim, seed):
        arr = "[" + ", ".join(repr(c) for c in p) + "]"
        key = (
            f"(({key}) * 2 + CASE WHEN list_dot_product({vexpr}, {arr}) >= 0"
            f" THEN 1 ELSE 0 END)"
        )
    return key

register(
    "dedup_exact",
    dedup.dedup_exact,
    """
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
    FROM documents GROUP BY text
    """,
)

register(
    "dedup_jaccard",
    dedup.dedup_jaccard,
    f"""
    WITH {_duck_shingle_overlap()}
    SELECT id1, id2, {_DUCK_JACCARD} AS jaccard
    {_DUCK_JACCARD_PAIRS}
    """,
)

# Sketch-based near-dup — BOTH promoted to full value-hash oracles in
# round 7 (closing the VERDICT r06 rows-only ask):
#
# dedup_near → dedup_near_checked: rows are the exact Jaccard ≥ 0.5
# pair set (the dedup_jaccard relation, quadratic-join oracle below)
# plus lsh_ok, the deterministic MinHash guarantee (J=1 ⇒ identical
# signatures ⇒ candidate) the oracle pins TRUE. The body is shared
# with lsh_probability: exact pairs left-joined to the raw MinHash
# candidates, no second verify. Probabilistic S-curve recall below
# J=1 stays a local tolerance test, where it belongs.
register(
    "dedup_near",
    dedup.dedup_near_checked,
    f"""
    WITH {_duck_shingle_overlap()}
    SELECT id1, id2,
           {_DUCK_JACCARD} AS jaccard,
           true AS lsh_ok
    {_DUCK_JACCARD_PAIRS}
    """,
)

# dedup_simhash: the base hash moved to md5hash60 (15 md5 hex chars →
# positive 60-bit BIGINT), so the oracle recomputes every fingerprint
# EXACTLY — per-bit majority (ties→1) over the same hashes, same
# bottom-255 cap — then mirrors the 4-block pigeonhole (exact for
# Hamming ≤ 3) and the Hamming verify. Full value-hash, no bounds
# needed: the entire operator output is deterministic SQL. The majority
# votes run over the DISTINCT shingle set d, as word_shingles is
# array_distinct'ed.
register(
    "dedup_simhash",
    dedup.dedup_simhash,
    f"""
    WITH {_DUCK_WORDS}, {_DUCK_SHINGLE_SETS}, h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hv
      FROM d
    ), capped AS (
      -- bottom-255 by hash value when a doc exceeds the lane cap
      -- (multiset slice of the sorted array, duplicates retained) —
      -- identical to simhash64's bottom-k fold
      SELECT doc_id, hv FROM (
        SELECT doc_id, hv,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hv)
                 AS rn
        FROM h)
      WHERE rn <= 255
    ), nn AS (
      SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1
    ), bits AS (
      SELECT doc_id, b, SUM((hv >> b) & 1) AS ones
      FROM capped,
           (SELECT unnest(generate_series(0, 59)) AS b)
      GROUP BY 1, 2
    ), fp AS (
      SELECT bits.doc_id,
             SUM(CASE WHEN 2 * ones >= n
                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS fp
      FROM bits JOIN nn ON bits.doc_id = nn.doc_id
      GROUP BY 1
    ), blocks AS (
      SELECT doc_id, fp, k, (fp >> (k * 16)) & 65535 AS bv
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS k)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.fp AS f1, b.fp AS f2
      FROM blocks a JOIN blocks b
        ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id1, id2,
           CAST(bit_count(xor(f1, f2)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(f1, f2)) <= 3
    """,
)

register(
    "dedup_embedding",
    dedup.dedup_embedding,
    f"""
    WITH e AS ({_duck_vectors()}), withnorm AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_duck_hyperplane_bucket('v')} AS bucket
      FROM e
    ), n AS (
      SELECT vec_id, bucket, list_transform(v, x -> x / nrm) AS vn
      FROM withnorm WHERE nrm > 0
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           list_dot_product(a.vn, b.vn) AS cos_sim
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.vn, b.vn) >= 0.3
    """,
)

register(
    "sim_topk",
    similarity.sim_topk,
    f"""
    WITH e AS ({_duck_vectors(label=True)}), q AS (
      SELECT v AS qv FROM e WHERE vec_id = 0
    )
    SELECT e.vec_id, e.label,
           {_DUCK_COS.format(a='e.v', b='q.qv')} AS cos_sim
    FROM e, q WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20
    """,
)

# sim_topk_lsh's bucket filter uses seed=7 planes — mirrored into SQL
# from the same literals, so even the LSH variant is fully
# hash-checked (the bucket is a pure function of the vector).
register(
    "sim_topk_lsh",
    similarity.sim_topk_lsh,
    f"""
    WITH e AS ({_duck_vectors(label=True)}), b AS (
      SELECT vec_id, label, v,
             {_duck_hyperplane_bucket('v', seed=7)} AS bucket
      FROM e
    ), q AS (
      SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0
    )
    SELECT b.vec_id, b.label,
           {_DUCK_COS.format(a='b.v', b='q.qv')} AS cos_sim
    FROM b, q
    WHERE b.vec_id <> 0 AND b.bucket = q.qb
    ORDER BY cos_sim DESC, b.vec_id ASC LIMIT 20
    """,
)

register(
    "sim_topk_ivf",
    similarity.sim_topk_ivf,
    f"""
    WITH e AS ({_duck_vectors(label=True)}), cents AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {similarity.IVF_CELLS}
    ), scored AS (
      SELECT e.vec_id, e.label, e.v, c.cid,
             {_DUCK_COS.format(a='e.v', b='c.cv')} AS cscore
      FROM e CROSS JOIN cents c
    ), asg AS (
      SELECT vec_id, label, v, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ), q AS (
      SELECT v AS qv, cell AS qcell FROM asg WHERE vec_id = 0
    )
    SELECT a.vec_id, a.label,
           {_DUCK_COS.format(a='a.v', b='q.qv')} AS cos_sim
    FROM asg a, q
    WHERE a.vec_id <> 0 AND a.cell = q.qcell
    ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 20
    """,
)

# Full IVF-PQ ANN: coarse probe + asymmetric-distance ranking over PQ
# codes. Every float mirrors pq_encode's fold-order discipline; the ADC
# sum is left-associated identically and ordering is on the ROUNDED
# value in both engines.
register(
    "sim_topk_ivf_pq",
    similarity.sim_topk_ivf_pq,
    f"""
    WITH e AS ({_duck_vectors(label=True)}), ivf_cents AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {similarity.IVF_CELLS}
    ), scored AS (
      SELECT e.vec_id, e.label, e.v, c.cid,
             {_DUCK_COS.format(a='e.v', b='c.cv')} AS cscore
      FROM e CROSS JOIN ivf_cents c
    ), asg AS (
      SELECT vec_id, label, v, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ), probes AS (
      SELECT cid AS pcell FROM scored WHERE vec_id = 0
      ORDER BY cscore DESC, cid ASC LIMIT {similarity.IVF_PROBES}
    ), pq_cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h FROM e
            ORDER BY h, vec_id LIMIT {similarity.PQ_CODEWORDS})
    ), dists AS (
      SELECT e.vec_id, c.cid, s.s,
             list_reduce(
               list_transform(generate_series(1, {similarity.PQ_SUBDIM}),
                 i -> (e.v[(s.s - 1) * {similarity.PQ_SUBDIM} + i]
                       - c.cv[(s.s - 1) * {similarity.PQ_SUBDIM} + i])
                    * (e.v[(s.s - 1) * {similarity.PQ_SUBDIM} + i]
                       - c.cv[(s.s - 1) * {similarity.PQ_SUBDIM} + i])),
               (a, b) -> a + b) AS d
      FROM e, pq_cents c,
           (SELECT unnest(generate_series(1, {similarity.PQ_SUBSPACES}))
            AS s) s
    ), best AS (
      SELECT vec_id, s, cid, d,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, s ORDER BY d, cid) AS rn
      FROM dists
    ), codes AS (
      SELECT vec_id,
             MAX(CASE WHEN s = 1 THEN cid END) AS code_1,
             MAX(CASE WHEN s = 2 THEN cid END) AS code_2,
             MAX(CASE WHEN s = 3 THEN cid END) AS code_3,
             MAX(CASE WHEN s = 4 THEN cid END) AS code_4
      FROM best WHERE rn = 1 GROUP BY vec_id
    ), qd AS (
      SELECT cid, s, d FROM dists WHERE vec_id = 0
    )
    SELECT c.vec_id, a.label,
           FLOOR((q1.d + q2.d + q3.d + q4.d) * 1e6 + 0.5) / 1e6
             AS adc_dist
    FROM codes c
    JOIN asg a ON a.vec_id = c.vec_id
    JOIN qd q1 ON q1.cid = c.code_1 AND q1.s = 1
    JOIN qd q2 ON q2.cid = c.code_2 AND q2.s = 2
    JOIN qd q3 ON q3.cid = c.code_3 AND q3.s = 3
    JOIN qd q4 ON q4.cid = c.code_4 AND q4.s = 4
    WHERE c.vec_id <> 0 AND a.cell IN (SELECT pcell FROM probes)
    ORDER BY adc_dist ASC, c.vec_id ASC LIMIT {similarity.TOP_K}
    """,
)

register(
    "sim_topk_ivf_multiprobe",
    similarity.sim_topk_ivf_multiprobe,
    f"""
    WITH e AS ({_duck_vectors(label=True)}), cents AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {similarity.IVF_CELLS}
    ), scored AS (
      SELECT e.vec_id, e.label, e.v, c.cid,
             {_DUCK_COS.format(a='e.v', b='c.cv')} AS cscore
      FROM e CROSS JOIN cents c
    ), asg AS (
      SELECT vec_id, label, v, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ), probes AS (
      SELECT cid AS pcell FROM scored
      WHERE vec_id = 0
      ORDER BY cscore DESC, cid ASC LIMIT {similarity.IVF_PROBES}
    ), q AS (
      SELECT v AS qv FROM e WHERE vec_id = 0
    )
    SELECT a.vec_id, a.label,
           {_DUCK_COS.format(a='a.v', b='q.qv')} AS cos_sim
    FROM asg a, q
    WHERE a.vec_id <> 0 AND a.cell IN (SELECT pcell FROM probes)
    ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 20
    """,
)

register(
    "multimodal_join",
    similarity.multimodal_join,
    """
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           CAST(len(e.embedding) AS BIGINT) AS dim
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    """,
)

# Full value-hash oracle (round 7): synth_media is md5/sha256-derived,
# so the oracle regenerates the media table (kinds, meta dims, and the
# 64-ASCII-hex-byte sha256 payload) and recomputes the mapInPandas
# features — mean payload byte, thumbnail clamp — entirely in SQL.
register(
    "multimodal_pipeline",
    multimodal.multimodal_pipeline,
    """
    WITH seq AS (
      SELECT unnest(generate_series(0, 255)) AS media_id
    ), h AS (
      SELECT media_id,
             CAST('0x' || substr(md5('42|kind|' || media_id), 1, 15)
                  AS BIGINT) % 3 AS kx,
             CAST('0x' || substr(md5('42|w|' || media_id), 1, 15)
                  AS BIGINT) % 1920 + 1 AS meta_w,
             CAST('0x' || substr(md5('42|h|' || media_id), 1, 15)
                  AS BIGINT) % 1080 + 1 AS meta_h,
             sha256(media_id || ':42') AS hx
      FROM seq
    ), feats AS (
      SELECT media_id,
             ['image', 'audio', 'video'][kx + 1] AS kind,
             64 AS n_bytes,
             list_sum(list_transform(range(1, 65),
                      i -> ord(substr(hx, i, 1)))) // 64 AS feat_mean,
             least(meta_w, 64) AS thumb_w,
             least(meta_h, 64) AS thumb_h
      FROM h
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(feat_mean) AS BIGINT) AS min_feat,
           CAST(MAX(feat_mean) AS BIGINT) AS max_feat,
           CAST(SUM(feat_mean) AS BIGINT) AS sum_feat,
           CAST(SUM(thumb_w) AS BIGINT) AS sum_thumb_w,
           CAST(SUM(thumb_h) AS BIGINT) AS sum_thumb_h
    FROM feats GROUP BY 1
    """,
)

register(
    "text_stats",
    text_analysis.text_stats,
    f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_chars
    FROM documents GROUP BY 1, 2
    """,
)

register(
    "token_count",
    text_analysis.token_count,
    rf"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKENS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(
             text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
             AS bpe_tokens
    FROM documents
    """,
)

register(
    "quality_score",
    text_analysis.quality_score,
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(w) AS DOUBLE) AS nt,
             CAST(len(list_filter(
               w, x -> list_contains({_DUCK_STOPLIST}, x))) AS DOUBLE) AS ns,
             CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
               AS total_len
      FROM t
    )
    SELECT doc_id, n_tokens,
           CASE WHEN nt > 0 THEN total_len / nt ELSE 0.0 END
             AS mean_token_len,
           CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END AS stop_ratio,
           (CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END) * 0.5
             + least(nt / 100, 1.0) * 0.5 AS score
    FROM s
    """,
)

register(
    "lang_id",
    text_analysis.lang_id,
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), markers(m_lang, m_word) AS (
      VALUES {_DUCK_MARKERS}
    ), hits AS (
      SELECT doc_id, m_lang AS pred_lang, COUNT(*) AS hits
      FROM tok JOIN markers ON tok = m_word GROUP BY 1, 2
    ), best AS (
      SELECT doc_id, pred_lang, hits,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY hits DESC, pred_lang ASC) AS rn
      FROM hits
    )
    SELECT d.doc_id,
           COALESCE(b.pred_lang, 'und') AS pred_lang,
           CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
)

# Karp-Rabin rolling hash mirrored via list_reduce over HUGEINT (the
# Spark side stays the documented pandas-UDF exception; the oracle
# proves the sequential loop's exact output). string_split('','')
# yields [''] whose ord() is -1, hence the empty-text guard.
register(
    "fingerprint",
    text_analysis.fingerprint,
    """
    SELECT doc_id,
           CASE WHEN len(text) = 0 THEN 0 ELSE
             CAST(list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(string_split(text, ''),
                                ch -> CAST(ord(ch) AS HUGEINT))),
               (acc, c) -> (acc * 257 + c) % 2305843009213693951
             ) AS BIGINT)
           END AS fp
    FROM documents
    """,
)

_Q = text_analysis  # threshold constants shared with the Spark impl
_QUALITY_SQL: str  # assigned right after registration, reused below
register(
    "quality_filters",
    text_analysis.quality_filters,
    rf"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKENS} AS w FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(greatest(len(w) - 1, 1) AS BIGINT) AS n_bigrams,
             CASE WHEN len(w) > 0
                  THEN CAST(list_sum(list_transform(w, x -> len(x)))
                            AS DOUBLE) / CAST(len(w) AS DOUBLE)
                  ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(text) > 0
                  THEN CAST(len(regexp_replace(
                         text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                       / CAST(len(text) AS DOUBLE)
                  ELSE 0.0 END AS symbol_ratio,
             CASE WHEN len(text) > 0
                  THEN CAST(len(regexp_replace(
                         text, '[^0-9]', '', 'g')) AS DOUBLE)
                       / CAST(len(text) AS DOUBLE)
                  ELSE 0.0 END AS digit_ratio
      FROM t
    ), bg AS (
      SELECT doc_id, {_duck_ngram(2)} AS b
      FROM t,
           (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i)
    ), counts AS (
      SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, MAX(c) AS top_c FROM counts GROUP BY 1
    )
    SELECT s.doc_id, s.n_words, s.mean_word_len, s.symbol_ratio,
           s.digit_ratio,
           CAST(top_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS top_bigram_ratio,
           CAST(CASE WHEN s.n_words >= {_Q.QUALITY_MIN_WORDS}
                      AND s.mean_word_len >= {_Q.QUALITY_MIN_MEAN_WORD_LEN}
                      AND s.mean_word_len <= {_Q.QUALITY_MAX_MEAN_WORD_LEN}
                      AND s.symbol_ratio <= {_Q.QUALITY_MAX_SYMBOL_RATIO}
                      AND s.digit_ratio <= {_Q.QUALITY_MAX_DIGIT_RATIO}
                      AND CAST(top_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                          <= {_Q.QUALITY_MAX_TOP_BIGRAM_RATIO}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM s JOIN top USING (doc_id)
    """,
)
_QUALITY_SQL = ORACLES["quality_filters"]

register(
    "pipeline_pretraining",
    text_analysis.pipeline_pretraining,
    f"""
    WITH ql AS ({_QUALITY_SQL}),
    gated AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN ql ON d.doc_id = ql.doc_id WHERE ql.keep = 1
    ), reps AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text
    ), deduped AS (
      SELECT g.doc_id, g.text FROM gated g
      JOIN reps USING (doc_id)
    ), assigned AS (
      SELECT CASE WHEN b.bucket < {_Q.SPLIT_TRAIN_LIM} THEN 'train'
                  WHEN b.bucket < {_Q.SPLIT_VAL_LIM} THEN 'val'
                  ELSE 'test' END AS split,
             len({_DUCK_TOKENS}) AS nt
      FROM (
        SELECT text,
               16 * (strpos('0123456789abcdef',
                            substr(md5(text), 1, 1)) - 1)
               + (strpos('0123456789abcdef',
                         substr(md5(text), 2, 1)) - 1) AS bucket
        FROM deduped
      ) b
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY 1
    """,
)

# ---------------------------------------------------------------------------
# Extended relational surface + batch form of the streaming window
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import relational  # noqa: E402
from bigdata1_spark.streaming import events as streaming_events  # noqa: E402

register(
    "join_semi",
    relational.join_semi,
    """
    SELECT o_orderkey, o_orderstatus FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    """,
)

register(
    "join_anti",
    relational.join_anti,
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)

register(
    "join_outer",
    relational.join_outer,
    """
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS total_spent
      FROM orders GROUP BY 1
    )
    SELECT c.c_custkey, c.c_mktsegment,
           COALESCE(p.n_orders, 0) AS n_orders,
           COALESCE(p.total_spent, 0.0) AS total_spent
    FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
    """,
)

register(
    "window_running_sum",
    relational.window_running_sum,
    """
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS running_spent
    FROM orders
    """,
)

register(
    "window_lag",
    relational.window_lag,
    """
    WITH monthly AS (
      SELECT l.l_partkey AS item,
             strftime(o.o_orderdate, '%Y-%m') AS month,
             CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )
    SELECT item, month, revenue,
           revenue - COALESCE(
             LAG(revenue) OVER (
               PARTITION BY item ORDER BY month ASC NULLS FIRST), 0.0)
             AS delta
    FROM monthly
    """,
)

register(
    "agg_distinct",
    relational.agg_distinct,
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY 1
    """,
)

register(
    "groupby_rollup",
    relational.groupby_rollup,
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)

register(
    "events_window",
    streaming_events.events_window,
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)

register(
    "events_window_streamed",
    streaming_events.events_window_streamed,
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)

register(
    "events_user_counts_streamed",
    streaming_events.events_user_counts_streamed,
    """
    SELECT user_id, COUNT(*) AS n_events,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events GROUP BY user_id
    """,
)

register(
    "pivot_agg",
    relational.pivot_revenue,
    """
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           COALESCE(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
             FILTER (l.l_returnflag = 'R') AS VARCHAR) AS DOUBLE), 0.0) AS rev_r,
           COALESCE(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
             FILTER (l.l_returnflag = 'A') AS VARCHAR) AS DOUBLE), 0.0) AS rev_a,
           COALESCE(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
             FILTER (l.l_returnflag = 'N') AS VARCHAR) AS DOUBLE), 0.0) AS rev_n
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)

register(
    "groupby_cube",
    relational.groupby_cube,
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)

register(
    "sessionize",
    relational.sessionize,
    """
    WITH ev AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, us,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
)

# ---------------------------------------------------------------------------
# Temporal operators + scalar-function breadth + quantiles/sketches
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import temporal  # noqa: E402

register(
    "asof_join",
    temporal.asof_join,
    """
    WITH purchases AS (
      SELECT user_id, ts, MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           COALESCE(strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f'), '')
             AS purchase_ts,
           COALESCE(p.pvalue, -1.0) AS purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)

register(
    "join_range",
    temporal.join_range,
    """
    WITH bands(band, lo, hi) AS (
      VALUES (0, 0.0, 100.0), (1, 100.0, 200.0), (2, 200.0, 300.0),
             (3, 300.0, 400.0), (4, 400.0, 500.0)
    )
    SELECT CAST(b.band AS BIGINT) AS band, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)

register(
    "scalar_json",
    micro.scalar_json,
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)

# Spark 4 VARIANT + from_json next to the string-path extraction; the
# per-row variant schema is constant over this corpus, pinned literally.
register(
    "scalar_variant",
    micro.scalar_variant,
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
           CASE WHEN props IS NOT NULL
                THEN 'OBJECT<k: BIGINT>' END AS vtype
    FROM events
    """,
)

register(
    "scalar_datetime",
    micro.scalar_datetime,
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_epoch,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
             AS month_start
    FROM orders
    """,
)

register(
    "scalar_string",
    micro.scalar_string,
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           p_name[1:5] AS name_head,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
           replace(p_name, ' ', '_') AS name_snake
    FROM part
    """,
)

register(
    "groupby_quantiles",
    relational.groupby_quantiles,
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS med_qty,
           quantile_cont(l_extendedprice, 0.25) AS price_q25,
           quantile_cont(l_extendedprice, 0.75) AS price_q75
    FROM lineitem GROUP BY 1
    """,
)

# describe()/summary() analog: one agg pass + stack unpivot; the mean is
# decimal-exact so the hash is stable across partial-agg orderings.
register(
    "column_profile",
    relational.column_profile,
    """
    SELECT 'l_quantity' AS col_name,
           COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS n_nulls,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(l_quantity) AS mean_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END),
           COUNT(DISTINCT l_extendedprice),
           MIN(l_extendedprice), MAX(l_extendedprice),
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(CASE WHEN l_discount IS NULL THEN 1 END),
           COUNT(DISTINCT l_discount),
           MIN(l_discount), MAX(l_discount),
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax',
           COUNT(CASE WHEN l_tax IS NULL THEN 1 END),
           COUNT(DISTINCT l_tax),
           MIN(l_tax), MAX(l_tax),
           CAST(CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(l_tax)
    FROM lineitem
    """,
)

# Runtime bloom-filter semijoin reduction: Catalyst prunes the fact side
# before its shuffle; the exact join removes bloom false positives, so
# the result equals the plain join the oracle computes.
register(
    "runtime_filter_join",
    relational.runtime_filter_join,
    """
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)

# Raw sketch values are implementation-defined, so the checkable contract
# is the error bound: Spark emits exact counterparts + in-band booleans,
# and the oracle reproduces the exact columns and pins the booleans true.
register(
    "approx_sketch",
    relational.approx_sketch,
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS parts_within_5pct,
           true AS med_in_band
    FROM lineitem GROUP BY 1
    """,
)

# ---------------------------------------------------------------------------
# Classic TPC-H query shapes + ranking/statistical breadth
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import tpch  # noqa: E402

register(
    "tpch_q1",
    tpch.tpch_q1,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_base_price,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS sum_disc_price,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                    * (CAST(1 AS DECIMAL(8,4))
                       - CAST(l_discount AS DECIMAL(8,4))
                       + CAST(l_tax AS DECIMAL(8,4))
                       - CAST(l_discount AS DECIMAL(8,4))
                         * CAST(l_tax AS DECIMAL(8,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_price,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY 1, 2
    """,
)

register(
    "tpch_q3",
    tpch.tpch_q3,
    """
    SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l.l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)

register(
    "tpch_q4",
    tpch.tpch_q4,
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY 1 ORDER BY 1
    """,
)

register(
    "tpch_q12",
    tpch.tpch_q12,
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN string_split(o.o_orderpriority, '-')[1]
                    IN ('1', '2') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(SUM(CASE WHEN string_split(o.o_orderpriority, '-')[1]
                    IN ('1', '2') THEN 0 ELSE 1 END) AS BIGINT)
             AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)

register(
    "tpch_q5",
    tpch.tpch_q5,
    """
    SELECT n.n_name AS nation,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l.l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)

register(
    "tpch_q6",
    tpch.tpch_q6,
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)

register(
    "tpch_q17",
    tpch.tpch_q17,
    """
    SELECT CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_small_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)

register(
    "tpch_q13",
    tpch.tpch_q13,
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

register(
    "tpch_q14",
    tpch.tpch_q14,
    """
    SELECT CAST(CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l.l_discount AS DECIMAL(18,4)))
                   ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS VARCHAR) AS DOUBLE)
             AS promo_revenue,
           CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS total_revenue,
           100.0 * CAST(CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l.l_discount AS DECIMAL(18,4)))
                   ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
)

register(
    "tpch_q15",
    tpch.tpch_q15,
    """
    WITH revenue AS (
      SELECT l_suppkey,
             CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4))
                        - CAST(l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)

register(
    "tpch_q18",
    tpch.tpch_q18,
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice, b.sum_qty
    FROM orders o
    JOIN big b ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
)

register(
    "tpch_q19",
    tpch.tpch_q19,
    """
    SELECT CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)

register(
    "tpch_q10",
    tpch.tpch_q10,
    """
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)

register(
    "tpch_q22",
    tpch.tpch_q22,
    """
    WITH threshold AS (
      SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS numcust,
           CAST(CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS VARCHAR) AS DOUBLE)
             AS totacctbal
    FROM customer c, threshold t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)

register(
    "window_rank",
    relational.window_rank,
    """
    WITH monthly AS (
      SELECT l.l_partkey AS item,
             strftime(o.o_orderdate, '%Y-%m') AS month,
             CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )
    SELECT item, month, revenue,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           PERCENT_RANK() OVER w AS prnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM monthly
    WINDOW w AS (PARTITION BY item
                 ORDER BY revenue DESC NULLS LAST, month ASC NULLS FIRST)
    """,
)

register(
    "upsert_apply",
    relational.upsert_apply,
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment FROM customer
    ), mx AS (
      SELECT MAX(c_custkey) AS mx FROM base
    ), changes AS (
      SELECT c_custkey, 'CHANGED' AS c_mktsegment, 'update' AS op
      FROM base WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT mx.mx + i AS c_custkey, 'NEWSEG' AS c_mktsegment,
             'insert' AS op
      FROM mx, (SELECT unnest(generate_series(1, 50)) AS i)
    )
    SELECT c_custkey, c_mktsegment, op FROM changes
    UNION ALL
    SELECT b.c_custkey, b.c_mktsegment, 'keep' AS op
    FROM base b
    WHERE b.c_custkey NOT IN (SELECT c_custkey FROM changes)
    """,
)

register(
    "window_first_last",
    relational.window_first_last,
    """
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS last_order,
           COALESCE(NTH_VALUE(o_orderkey, 2) OVER w, -1) AS second_order
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)

register(
    "agg_stats",
    relational.agg_stats,
    """
    WITH decsums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS dsx,
             ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS dsy,
             ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))
                      AS DECIMAL(38,8))), 2) AS dsxy,
             ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_quantity AS DECIMAL(19,4))
                      AS DECIMAL(38,8))), 2) AS dsxx,
             ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))
                      AS DECIMAL(38,8))), 2) AS dsyy
      FROM lineitem GROUP BY 1
    ), sums AS (
      -- decimal -> double through VARCHAR: single correct rounding,
      -- matching Spark's BigDecimal.doubleValue even past 2^53
      SELECT l_returnflag, n,
             CAST(CAST(dsx AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(dsy AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(dsxy AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(dsxx AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(dsyy AS VARCHAR) AS DOUBLE) AS syy
      FROM decsums
    )
    SELECT l_returnflag, n,
           (sxx - sx * sx
              / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS var_qty,
           sqrt((sxx - sx * sx
              / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS sd_qty,
           (sxy - sx * sy
              / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS covar_qp,
           ((sxy - sx * sy
              / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
             / sqrt(((sxx - sx
                      * sx / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1))
                    * ((syy - sy
                        * sy / CAST(n AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1))) AS corr_qp
    FROM sums
    """,
)

register(
    "setop_except_all",
    micro.setop_except_all,
    "SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'R' "
    "EXCEPT ALL "
    "SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'",
)

register(
    "setop_intersect_all",
    micro.setop_intersect_all,
    "SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'R' "
    "INTERSECT ALL "
    "SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'",
)

register(
    "posexplode_items",
    micro.posexplode_items,
    """
    WITH b AS (
      SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS items
      FROM lineitem GROUP BY 1
    )
    SELECT l_orderkey,
           CAST(unnest(range(1, len(items) + 1)) AS BIGINT) AS pos,
           unnest(items) AS item
    FROM b
    """,
)

# ---------------------------------------------------------------------------
# API-surface operators (SQL text, UDTF, grouped-map pandas)
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import api_surface  # noqa: E402

register(
    "sql_api",
    api_surface.sql_api,
    """
    SELECT o.o_orderpriority AS priority,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY o.o_orderpriority
    """,
)

# Grouped-aggregate pandas UDF surface; per-row int rounding before the
# sum keeps the custom aggregate order-free exact (oracle mirrors it).
register(
    "pandas_grouped_agg",
    api_surface.pandas_grouped_agg,
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)

# Cogrouped-map pandas surface: orders ⋈ lineitem reconciliation with a
# COARSE bucket key (64 Python calls, vectorized inside — never one call
# per raw order key).
register(
    "cogrouped_map",
    api_surface.cogrouped_map,
    """
    WITH li AS (
      SELECT l_orderkey,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM lineitem GROUP BY 1
    ), o AS (
      SELECT DISTINCT o_orderkey FROM orders
    )
    SELECT COALESCE(o.o_orderkey, li.l_orderkey) AS o_orderkey,
           COALESCE(li.n_lines, 0) AS n_lines,
           COALESCE(li.total_cents, 0) AS total_cents,
           CAST(o.o_orderkey IS NOT NULL AS BIGINT) AS has_order
    FROM o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
    """,
)

# Polymorphic UDTF: output schema computed at plan time by analyze().
register(
    "udtf_analyze",
    api_surface.udtf_analyze,
    f"""
    WITH words AS (
      SELECT doc_id, {_duck_tokens("coalesce(text, '')")} AS w
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(w) >= 1 THEN w[1] END AS w0,
           CASE WHEN len(w) >= 2 THEN w[2] END AS w1,
           CAST(len(w) AS BIGINT) AS n_words
    FROM words
    """,
)

# mapInArrow: raw RecordBatch access, pyarrow.compute kernels.
register(
    "arrow_map",
    api_surface.arrow_map,
    """
    SELECT lang,
           COUNT(*) AS n,
           CAST(SUM(length(text)) AS BIGINT) AS chars_sum,
           CAST(SUM(strlen(text)) AS BIGINT) AS bytes_sum
    FROM documents GROUP BY lang
    """,
)

# DataFrame.transpose (Spark 4): per-flag metrics flipped to per-metric
# columns; the transposed frame is the 3-row aggregate, never raw data.
register(
    "transpose_stats",
    api_surface.transpose_stats,
    """
    WITH agg AS (
      SELECT l_returnflag,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS revenue,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS qty
      FROM lineitem GROUP BY 1
    )
    SELECT 'revenue' AS key,
           MAX(CASE WHEN l_returnflag = 'A' THEN revenue END) AS A,
           MAX(CASE WHEN l_returnflag = 'N' THEN revenue END) AS N,
           MAX(CASE WHEN l_returnflag = 'R' THEN revenue END) AS R
    FROM agg
    UNION ALL
    SELECT 'qty',
           MAX(CASE WHEN l_returnflag = 'A' THEN qty END),
           MAX(CASE WHEN l_returnflag = 'N' THEN qty END),
           MAX(CASE WHEN l_returnflag = 'R' THEN qty END)
    FROM agg
    """,
)

# Catalog DDL round-trip (CREATE VIEW / SHOW TABLES / DESCRIBE / DROP);
# the oracle reads the same schemas from DuckDB's information_schema.
register(
    "sql_catalog",
    api_surface.sql_catalog,
    """
    SELECT table_name,
           COUNT(*) AS n_cols,
           string_agg(column_name, ',' ORDER BY ordinal_position)
             AS cols_csv
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation', 'customer', 'supplier',
                         'part', 'orders', 'lineitem', 'events',
                         'documents', 'embeddings')
    GROUP BY table_name
    """,
)

register(
    "udtf_tokens",
    api_surface.udtf_tokens,
    """
    SELECT o_orderkey,
           CAST(unnest(range(1, len(string_split(o_orderpriority, '-')) + 1))
                AS BIGINT) AS pos,
           unnest(string_split(o_orderpriority, '-')) AS token
    FROM orders
    """,
)

register(
    "grouped_map_normalize",
    api_surface.grouped_map_normalize,
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE WHEN MAX(l_quantity) OVER w > MIN(l_quantity) OVER w
                THEN (l_quantity - MIN(l_quantity) OVER w)
                     / (MAX(l_quantity) OVER w - MIN(l_quantity) OVER w)
                ELSE l_quantity * 0.0 END AS qnorm
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
)

register(
    "map_ops",
    micro.map_ops,
    """
    WITH per_item AS (
      SELECT l_orderkey, l_partkey AS item,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey,
           CAST(COUNT(*) OVER (PARTITION BY l_orderkey) AS BIGINT)
             AS n_items,
           item, qty
    FROM per_item
    """,
)

# ---------------------------------------------------------------------------
# Training-pipeline additions: dedup clustering, splits, n-gram stats
# ---------------------------------------------------------------------------

# Shared recursive-CTE prefix computing near-dup cluster labels
# (doc_id → component-min cluster_id) — used by dedup_clusters and
# dedup_near_apply so both oracles stay in lockstep.
_DUCK_CLUSTER_LABELS = f"""
    WITH RECURSIVE {_duck_shingle_overlap()}, pairs AS (
      SELECT id1, id2 {_DUCK_JACCARD_PAIRS}
    ), edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION ALL
      SELECT id2 AS src, id1 AS dst FROM pairs
    ), reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
      SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1
    )
"""

register(
    "dedup_clusters",
    dedup.dedup_clusters,
    _DUCK_CLUSTER_LABELS
    + """
    SELECT l.doc_id, l.cluster_id, s.cluster_size
    FROM labels l
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM labels GROUP BY 1) s USING (cluster_id)
    """,
)

register(
    "dedup_near_apply",
    dedup.dedup_near_apply,
    _DUCK_CLUSTER_LABELS
    + """
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN labels l USING (doc_id)
    WHERE l.doc_id = l.cluster_id
    """,
)

# Each probe table's bucket key is mirrored from the same seed
# literals; UNION dedupes identical (id1, id2, cos_sim) rows exactly
# like the Spark unionAll().distinct() (cos_sim is bit-identical for
# the same pair across tables).
_MP_PROBE = """
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.vn, b.vn) AS cos_sim
      FROM n a JOIN n b ON a.{bk} = b.{bk} AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.vn, b.vn) >= 0.3
"""
register(
    "dedup_embedding_multiprobe",
    dedup.dedup_embedding_multiprobe,
    f"""
    WITH e AS ({_duck_vectors()}), withnorm AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_duck_hyperplane_bucket('v', seed=11)} AS bk11,
             {_duck_hyperplane_bucket('v', seed=13)} AS bk13,
             {_duck_hyperplane_bucket('v', seed=17)} AS bk17
      FROM e
    ), n AS (
      SELECT vec_id, bk11, bk13, bk17,
             list_transform(v, x -> x / nrm) AS vn
      FROM withnorm WHERE nrm > 0
    )
    {_MP_PROBE.format(bk='bk11')}
    UNION
    {_MP_PROBE.format(bk='bk13')}
    UNION
    {_MP_PROBE.format(bk='bk17')}
    """,
)

register(
    "sample_split",
    text_analysis.sample_split,
    f"""
    WITH b AS (
      SELECT doc_id,
             CAST(16 * (strpos('0123456789abcdef',
                               substr(md5(text), 1, 1)) - 1)
                  + (strpos('0123456789abcdef',
                            substr(md5(text), 2, 1)) - 1) AS BIGINT)
               AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < {text_analysis.SPLIT_TRAIN_LIM} THEN 'train'
                WHEN bucket < {text_analysis.SPLIT_VAL_LIM} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)

register(
    "ngram_freq",
    text_analysis.ngram_freq,
    f"""
    WITH {_DUCK_WORDS}, sh AS (
      SELECT doc_id, {_duck_ngram(2)} AS bigram
      FROM words,
           (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i)
    ), d AS (
      SELECT DISTINCT doc_id, bigram FROM sh
    )
    SELECT bigram, COUNT(*) AS freq
    FROM d GROUP BY 1
    ORDER BY freq DESC, bigram ASC NULLS LAST
    LIMIT 50
    """,
)

register(
    "heavy_hitters",
    text_analysis.heavy_hitters,
    f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts
    )
    SELECT token, cnt,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS frac
    FROM counts, tot
    WHERE cnt * 1000 >= total
    """,
)

register(
    "bpe_pair_counts",
    text_analysis.bpe_pair_counts,
    f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS word
      FROM documents
    ), words AS (
      SELECT word, COUNT(*) AS wcnt FROM toks
      WHERE length(word) >= 2 GROUP BY 1
    ), pairs AS (
      SELECT substring(word, i, 2) AS pair, wcnt
      FROM words,
           (SELECT unnest(generate_series(1, length(word) - 1)) AS i)
    )
    SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS freq
    FROM pairs GROUP BY 1
    ORDER BY freq DESC, pair ASC
    LIMIT 50
    """,
)

register(
    "text_normalize",
    text_analysis.text_normalize,
    """
    WITH norm AS (
      SELECT doc_id,
             lower(nfc_normalize(
               'Cafe' || chr(769) || ' ' || chr(8212) || ' ' || text
             )) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(length(n) AS BIGINT) AS n_chars_norm,
           md5(n) AS norm_md5
    FROM norm
    """,
)

register(
    "join_cross",
    micro.join_cross,
    """
    SELECT r_regionkey, r_name, n_nationkey, n_name
    FROM region CROSS JOIN nation
    """,
)

register(
    "dedup_apply",
    dedup.dedup_apply,
    """
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    """,
)

register(
    "window_range_frame",
    relational.window_range_frame,
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER (
             PARTITION BY l_returnflag
             ORDER BY CAST(l_quantity AS DOUBLE)
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS nearby_revenue
    FROM lineitem
    """,
)

# ---------------------------------------------------------------------------
# Corpus-curation family (repetition / contamination / mixture sampling)
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import corpus  # noqa: E402

register(
    "repetition_metrics",
    corpus.repetition_metrics,
    f"""
    WITH {_DUCK_WORDS}, wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(w) AS word FROM words)
      GROUP BY 1, 2
    ), ws AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             MAX(cnt) AS top_cnt
      FROM wc GROUP BY 1
    ), bg AS (
      SELECT doc_id, {_duck_ngram(2)} AS bigram
      FROM words,
           (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i)
    ), bs AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(COUNT(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams
      FROM bg GROUP BY 1
    )
    SELECT ws.doc_id, ws.n_tokens,
           CASE WHEN ws.n_tokens > 0
                THEN CAST(ws.n_tokens - ws.n_distinct AS DOUBLE)
                     / CAST(ws.n_tokens AS DOUBLE)
                ELSE 0.0 END AS dup_word_frac,
           CASE WHEN ws.n_tokens > 0
                THEN CAST(ws.top_cnt AS DOUBLE)
                     / CAST(ws.n_tokens AS DOUBLE)
                ELSE 0.0 END AS top_word_frac,
           CASE WHEN bs.n_bigrams > 0
                THEN CAST(bs.n_bigrams - bs.n_distinct_bigrams AS DOUBLE)
                     / CAST(bs.n_bigrams AS DOUBLE)
                ELSE 0.0 END AS dup_bigram_frac,
           CAST((CASE WHEN ws.n_tokens > 0
                      THEN CAST(ws.n_tokens - ws.n_distinct AS DOUBLE)
                           / CAST(ws.n_tokens AS DOUBLE)
                      ELSE 0.0 END > 0.30)
                OR (CASE WHEN ws.n_tokens > 0
                         THEN CAST(ws.top_cnt AS DOUBLE)
                              / CAST(ws.n_tokens AS DOUBLE)
                         ELSE 0.0 END > 0.20) AS BIGINT) AS repetitive
    FROM ws JOIN bs ON ws.doc_id = bs.doc_id
    """,
)

register(
    "contamination_ngrams",
    corpus.contamination_ngrams,
    f"""
    WITH words AS (
      SELECT doc_id, source,
             {_DUCK_TOKENS} AS w
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, source, {_duck_ngram(5)} AS gram
      FROM words,
           (SELECT unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i)
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE source = 'src0'
    ), cand AS (
      SELECT doc_id, gram FROM grams WHERE source <> 'src0'
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS overlap_frac,
           CAST(CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) >= 0.10
                AS BIGINT) AS contaminated
    FROM cand c LEFT JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)

# Apply-side of decontamination: same inverted-index plan, candidates
# kept iff under threshold (oracle wraps the contamination oracle so the
# two can never drift).
register(
    "decontaminate_apply",
    corpus.decontaminate_apply,
    f"""
    WITH contam AS ({ORACLES["contamination_ngrams"]})
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN contam c ON d.doc_id = c.doc_id
    WHERE c.contaminated = 0
    """,
)

register(
    "doc_chunking",
    corpus.doc_chunking,
    f"""
    WITH {_DUCK_WORDS}, starts AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w), 1), 48)) AS s
      FROM words
    )
    SELECT doc_id,
           CAST((s - 1) / 48 AS BIGINT) AS chunk_id,
           CAST(len(w[s:s+63]) AS BIGINT) AS n_tokens,
           md5(array_to_string(w[s:s+63], ' ')) AS chunk_md5
    FROM starts
    """,
)

register(
    "mixture_sample",
    corpus.mixture_sample,
    """
    WITH b AS (
      SELECT doc_id, lang,
             CAST(16 * (strpos('0123456789abcdef',
                               substr(md5(text), 1, 1)) - 1)
                  + (strpos('0123456789abcdef',
                            substr(md5(text), 2, 1)) - 1) AS BIGINT)
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 256 WHEN 'fr' THEN 128
                             WHEN 'de' THEN 128 WHEN 'es' THEN 64
                             WHEN 'zh' THEN 64 ELSE 256 END
    """,
)

register(
    "groupby_grouping_sets",
    relational.groupby_grouping_sets,
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    HAVING COUNT(*) > 0
    """,
)

register(
    "knn_join",
    similarity.knn_join,
    f"""
    WITH e AS ({_duck_vectors()}), q AS (
      SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {_DUCK_COS.format(a='e.v', b='q.qv')} AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id >= 8
    )
    SELECT q_id, vec_id, cos_sim, rnk FROM (
      SELECT q_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC
             ) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)

register(
    "scd2_intervals",
    temporal.scd2_intervals,
    """
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      SELECT *, SUM(chg) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS island
      FROM ordered
    ), runs AS (
      SELECT user_id, island,
             MIN(event_type) AS event_type,
             MIN(ts) AS from_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id, event_type,
           strftime(from_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           COALESCE(strftime(LEAD(from_ts) OVER (
                      PARTITION BY user_id ORDER BY island),
                    '%Y-%m-%d %H:%M:%S.%f'),
                    '9999-12-31 00:00:00.000000') AS valid_to,
           n_events
    FROM runs
    """,
)

register(
    "shard_pack",
    corpus.shard_pack,
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(16 * (strpos('0123456789abcdef',
                               substr(md5(text), 1, 1)) - 1)
                  + (strpos('0123456789abcdef',
                            substr(md5(text), 2, 1)) - 1) AS BIGINT)
               % {corpus.N_PACK_GROUPS} AS pack_group,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, pack_group, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang, pack_group ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
      FROM d
    )
    SELECT doc_id, lang, pack_group, n_tokens,
           CAST(cum_before // {corpus.SHARD_TOKEN_BUDGET} AS BIGINT)
             AS shard_seq,
           lang || '-' || CAST(pack_group AS VARCHAR) || '-'
                || CAST(cum_before // {corpus.SHARD_TOKEN_BUDGET} AS VARCHAR)
             AS shard_id
    FROM packed
    """,
)

register(
    "tpch_q7",
    tpch.tpch_q7,
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           strftime(l.l_shipdate, '%Y') AS l_year,
           CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)

register(
    "tpch_q8",
    tpch.tpch_q8,
    """
    SELECT strftime(o.o_orderdate, '%Y') AS o_year,
           CAST(CAST(ROUND(SUM(CASE WHEN n1.n_name = 'NATION_3'
                   THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l.l_discount AS DECIMAL(18,4)))
                   ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS VARCHAR) AS DOUBLE)
             AS nation_revenue,
           CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS total_revenue,
           CAST(CAST(ROUND(SUM(CASE WHEN n1.n_name = 'NATION_3'
                   THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l.l_discount AS DECIMAL(18,4)))
                   ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE)
             AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    JOIN region r ON n2.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
)

# ---------------------------------------------------------------------------
# Temporal analytics on events (SURVEY.md §2.10 temporal family, round 5):
# outlier detection, trailing EWMA, gap-filled resampling — the time-series
# triad a monitoring/feature-engineering user expects. Float parity comes
# from the shared tricks documented on each operator (decimal power sums;
# identical left-folds over identically-ordered arrays).
# ---------------------------------------------------------------------------

register(
    "anomaly_zscore",
    temporal.anomaly_zscore,
    """
    WITH stats AS (
      SELECT event_id, user_id, value,
             CAST(COUNT(*) OVER w AS DOUBLE) AS n,
             CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 4) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(ROUND(SUM(CAST(CAST(value AS DECIMAL(18,6))
                                 * CAST(value AS DECIMAL(18,6))
                                 AS DECIMAL(38,12))) OVER w, 4) AS VARCHAR) AS DOUBLE) AS sxx
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    )
    SELECT event_id, user_id, value,
           FLOOR(z * 1e4 + 0.5) / 1e4 AS z FROM (
      SELECT event_id, user_id, value,
             (value - sx / n)
               / SQRT((sxx - sx * sx / n) / (n - 1.0)) AS z
      FROM stats
    ) WHERE ABS(z) > 1.5
    """,
)

register(
    "ewma",
    temporal.ewma,
    """
    WITH framed AS (
      SELECT event_id, user_id,
             list_filter(
               list(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
               v -> v IS NOT NULL) AS vals
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN len(vals) = 0 THEN NULL
                ELSE FLOOR(list_reduce(
                       vals, (acc, v) -> 0.9 * acc + 0.1 * v)
                     * 1e6 + 0.5) / 1e6
           END AS ewma
    FROM framed
    """,
)

# Holt's linear smoothing: pair-accumulator left-fold, identical
# expression tree both engines (l_t deliberately duplicated, not
# let-bound, so the trees match). The DuckDB accumulator is a 2-element
# LIST, not a struct: DuckDB 1.0's list_reduce updates a struct
# accumulator field-by-field IN PLACE, so a struct's second field would
# see the already-overwritten first field (measured).
register(
    "holt_winters",
    temporal.holt_winters,
    """
    WITH per_user AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY 1
    ), folded AS (
      SELECT user_id, len(vals) AS n,
             list_reduce(
               list_prepend(
                 [vals[1], CAST(0.0 AS DOUBLE)],
                 list_transform(vals[2:len(vals)],
                                v -> [v, CAST(0.0 AS DOUBLE)])),
               (acc, x) ->
                 [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                  0.3 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                  + 0.7 * acc[2]]
             ) AS st
      FROM per_user
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           FLOOR(st[1] * 1e6 + 0.5) / 1e6 AS level,
           FLOOR(st[2] * 1e6 + 0.5) / 1e6 AS trend,
           FLOOR((st[1] + st[2]) * 1e6 + 0.5) / 1e6 AS forecast
    FROM folded
    """,
)

# Interval-union coverage: sweep-line as a running-max window, exact
# integer microseconds throughout.
register(
    "interval_coverage",
    temporal.interval_coverage,
    """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) + 900000000 AS e
      FROM events
    ), m AS (
      SELECT user_id, us, e,
             MAX(e) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS pmax
      FROM iv
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(GREATEST(
             e - GREATEST(COALESCE(pmax, -4611686018427387904), us), 0
           )) AS BIGINT) AS covered_us
    FROM m GROUP BY 1
    """,
)

# Forward as-of (earliest purchase at-or-after each click): the same
# body as asof_join (temporal._asof) with a DESC traversal; the oracle
# collapses purchases per (user, ts) to MAX(value), which the Spark
# side reproduces through its value tie-break.
register(
    "asof_join_forward",
    temporal.asof_join_forward,
    """
    WITH purch AS (
      SELECT user_id, ts, MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click'
    ), nxt AS (
      SELECT c.event_id, c.user_id, c.ts AS cts, MIN(p.ts) AS nts
      FROM clicks c LEFT JOIN purch p
        ON p.user_id = c.user_id AND p.ts >= c.ts
      GROUP BY 1, 2, 3
    )
    SELECT n.event_id, n.user_id,
           strftime(n.cts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           COALESCE(strftime(n.nts, '%Y-%m-%d %H:%M:%S.%f'), '')
             AS purchase_ts,
           COALESCE(p.pvalue, -1.0) AS purchase_value
    FROM nxt n LEFT JOIN purch p
      ON p.user_id = n.user_id AND p.ts = n.nts
    """,
)

# Two-sided CUSUM over daily per-type event counts via the closed
# windowable form S+ = P - runmin(P), S- = runmax(P) - P on integer-
# scaled deviations y = n_days*x - sum(x): exact integers end-to-end.
register(
    "cusum_changepoint",
    temporal.cusum_changepoint,
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ), scaled AS (
      SELECT event_type, day, n_events,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_days,
             COUNT(*) OVER (PARTITION BY event_type) * n_events
               - SUM(n_events) OVER (PARTITION BY event_type) AS y
      FROM daily
    ), wp AS (
      SELECT event_type, day, n_events, n_days,
             SUM(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS p
      FROM scaled
    )
    SELECT event_type, day, n_events, n_days,
           CAST(p - LEAST(0, MIN(p) OVER (PARTITION BY event_type
                                          ORDER BY day
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW))
                AS BIGINT) AS s_pos,
           CAST(GREATEST(0, MAX(p) OVER (PARTITION BY event_type
                                         ORDER BY day
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)) - p
                AS BIGINT) AS s_neg
    FROM wp
    """,
)

# Seasonal-naive baseline: hourly means self-joined at a 168-hour lag.
register(
    "seasonal_naive",
    temporal.seasonal_naive,
    """
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT a.user_id,
           strftime(a.h, '%Y-%m-%d %H:00:00') AS hour,
           FLOOR(a.v * 1e6 + 0.5) / 1e6 AS value,
           FLOOR(b.v * 1e6 + 0.5) / 1e6 AS forecast,
           FLOOR(abs(a.v - b.v) * 1e6 + 0.5) / 1e6 AS abs_err
    FROM obs a JOIN obs b
      ON a.user_id = b.user_id AND b.h = a.h - INTERVAL 168 HOURS
    """,
)

# Time-weighted average: exact integer gaps, decimal weighted sum, and
# the division done EXACTLY in decimal on both engines. Spark's
# decimal(38,6)/bigint yields a HALF_UP scale-6 quotient; DuckDB's
# decimal division goes through DOUBLE (two-rounding hazard once wsum's
# integer part exceeds 2^53), so the oracle mirrors Spark's semantics
# with exact HUGEINT half-up division: Q = round_half_up(W/span) where
# W = wsum·10^6 is the exact scaled integer. The final CAST(Q AS
# DOUBLE)/1e6 is exact because |Q| ≤ max(|value|)·10^6 « 2^53 (an
# average can never exceed the max element). Bit-for-bit at any sf.
register(
    "twa",
    temporal.twa,
    """
    WITH ev AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
    ), g AS (
      SELECT user_id, event_id, value, us,
             LEAD(us) OVER (
               PARTITION BY user_id ORDER BY us, event_id
             ) - us AS dt
      FROM ev
    ), agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(COALESCE(SUM(dt), 0) AS BIGINT) AS span_us,
             SUM(CAST(CAST(value AS DECIMAL(18,6)) * dt
                      AS DECIMAL(38,6))) AS wsum
      FROM g GROUP BY 1
    ), first_obs AS (
      SELECT user_id, value AS fv FROM (
        SELECT user_id, value, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY us, event_id) AS rn
        FROM ev
      ) WHERE rn = 1
    ), q AS (
      SELECT user_id, n_obs, span_us,
             CASE WHEN wsum >= 0
               THEN (2 * CAST(wsum * 1000000 AS HUGEINT) + span_us)
                    // (2 * span_us)
               ELSE -((2 * CAST(-wsum * 1000000 AS HUGEINT) + span_us)
                      // (2 * span_us)) END AS qi
      FROM agg WHERE span_us > 0
    )
    SELECT a.user_id, a.n_obs, a.span_us,
           CASE WHEN a.span_us > 0
                THEN CAST(q.qi AS DOUBLE) / 1000000.0
                ELSE f.fv END AS twa_value
    FROM agg a
    JOIN first_obs f ON a.user_id = f.user_id
    LEFT JOIN q ON a.user_id = q.user_id
    """,
)

# OHLC bars: open/close as lexicographic struct min/max — pure
# aggregates, one shuffle, full map-side combine.
register(
    "ohlc_bars",
    temporal.ohlc_bars,
    """
    WITH ev AS (
      SELECT user_id, event_id, value,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS hour,
             epoch_us(ts) AS us
      FROM events
    ), rk AS (
      SELECT user_id, hour, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, hour
               ORDER BY us, event_id, value) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, hour
               ORDER BY us DESC, event_id DESC, value DESC) AS rn_d
      FROM ev
    )
    SELECT user_id, hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS o,
           MAX(value) AS h,
           MIN(value) AS l,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM rk GROUP BY 1, 2
    """,
)

register(
    "resample_interpolate",
    temporal.resample_interpolate,
    """
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT user_id, h, v,
             LEAD(h) OVER (PARTITION BY user_id ORDER BY h) AS nh,
             LEAD(v) OVER (PARTITION BY user_id ORDER BY h) AS nv
      FROM obs
    ), capped AS (
      SELECT user_id, h, v, nv,
             CASE WHEN nh IS NULL THEN CAST(0 AS BIGINT)
                  ELSE CAST((epoch(nh) - epoch(h)) / 3600 AS BIGINT)
             END AS gap_h,
             CASE WHEN nh IS NOT NULL
                   AND CAST((epoch(nh) - epoch(h)) / 3600 AS BIGINT)
                       BETWEEN 2 AND 336
                  THEN CAST((epoch(nh) - epoch(h)) / 3600 AS BIGINT) - 1
                  ELSE CAST(0 AS BIGINT)
             END AS n_fill
      FROM g
    )
    SELECT c.user_id,
           strftime(c.h + s.o * INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:00:00') AS hour,
           FLOOR((CASE WHEN s.o = 0 THEN c.v
                  ELSE c.v + (c.nv - c.v)
                       * (CAST(s.o * 3600 AS DOUBLE)
                          / CAST(c.gap_h * 3600 AS DOUBLE))
                  END) * 1e6 + 0.5) / 1e6 AS value,
           CAST(CASE WHEN s.o > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS interpolated
    FROM capped c, LATERAL (
      SELECT unnest(generate_series(0, c.n_fill)) AS o
    ) s
    """,
)

# LOCF step-function fill: same capped-gap machinery as
# resample_interpolate, carry-forward only — every filled value is an
# exactly-observed value, and no fill outlives the staleness TTL.
register(
    "locf_fill",
    temporal.locf_fill,
    """
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT user_id, h, v,
             LEAD(h) OVER (PARTITION BY user_id ORDER BY h) AS nh
      FROM obs
    ), capped AS (
      SELECT user_id, h, v,
             CASE WHEN nh IS NULL THEN 0
                  ELSE LEAST(
                    CAST((epoch(nh) - epoch(h)) / 3600 AS BIGINT) - 1,
                    336)
             END AS n_fill
      FROM g
    )
    SELECT c.user_id,
           strftime(c.h + s.o * INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:00:00') AS hour,
           FLOOR(c.v * 1e6 + 0.5) / 1e6 AS value,
           CAST(CASE WHEN s.o > 0 THEN 1 ELSE 0 END AS BIGINT) AS filled
    FROM capped c, LATERAL (
      SELECT unnest(generate_series(0, c.n_fill)) AS o
    ) s
    """,
)

# Calendar/timezone rollups (round-14 companions to the timewarp axis):
# DST-sensitive local-hour bucketing and ISO-week fiscal bucketing —
# both classic cross-engine divergence zones (JDK tzdb vs ICU; ISO
# year-of-week vs calendar year), pinned here down to year 0001.
register(
    "tz_hour_rollup",
    temporal.tz_hour_rollup,
    """
    SELECT CAST(extract(hour FROM
             (CAST(ts AS TIMESTAMPTZ) AT TIME ZONE 'America/New_York'))
             AS BIGINT) AS local_hour,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)

register(
    "iso_week_rollup",
    temporal.iso_week_rollup,
    """
    SELECT CAST(isoyear(l_shipdate) AS BIGINT) AS iso_year,
           CAST(weekofyear(l_shipdate) AS BIGINT) AS iso_week,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
             AS DOUBLE) AS revenue
    FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1, 2
    """,
)

# Second-order sequence model: top length-3 event-type paths.
from bigdata1_spark.operators import event_analytics  # noqa: E402

# Event-cadence pair (round 14): burst detection on exact-integer
# cleared inequalities (cnt > mu + 2*sigma with divisions and roots
# algebraically removed), and per-user inter-event-time stats whose
# only floats are one telescoped division and an integer median.
register(
    "burst_hours",
    event_analytics.burst_hours,
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(cnt AS DECIMAL(38,0))) AS s,
             SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0)))
               AS ss
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type,
           strftime(h.h, '%Y-%m-%d %H:00:00') AS hour_s,
           h.cnt
    FROM hourly h JOIN m ON h.event_type = m.event_type
    WHERE (m.n * h.cnt - m.s) > 0
      AND (m.n * h.cnt - m.s) * (m.n * h.cnt - m.s)
            > 4 * (m.n * m.ss - m.s * m.s)
    """,
)

register(
    "inter_event_gap_stats",
    event_analytics.inter_event_gap_stats,
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts) AS gap
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_gaps,
           MIN(gap) AS min_gap_us,
           MAX(gap) AS max_gap_us,
           CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_gap_us,
           CAST(median(gap) AS DOUBLE) AS median_gap_us
    FROM g WHERE gap IS NOT NULL GROUP BY 1
    """,
)

# Mergeable-sketch rollup: day HLL states unioned to months; oracle
# pins the exact counts and the ±5% band (approx_sketch's pattern).
register(
    "sketch_merge_rollup",
    event_analytics.sketch_merge_rollup,
    """
    SELECT strftime(ts, '%Y-%m') AS month,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_in_5pct
    FROM events GROUP BY 1
    """,
)

register(
    "user_paths",
    event_analytics.user_paths,
    """
    WITH t AS (
      SELECT event_type AS a,
             LEAD(event_type, 1) OVER w AS b,
             LEAD(event_type, 2) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a || '>' || b || '>' || c AS path, COUNT(*) AS cnt
    FROM t WHERE c IS NOT NULL GROUP BY 1
    ORDER BY cnt DESC, path ASC NULLS LAST LIMIT 20
    """,
)

# Additive schema evolution via mergeSchema (doc_id-parity generations).
register(
    "schema_evolution",
    jsonl.schema_evolution,
    """
    WITH unioned AS (
      SELECT lang, NULL::BIGINT AS n_chars FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(n_chars) AS n_with_chars,
           CAST(SUM(n_chars) AS BIGINT) AS evolved_chars
    FROM unioned GROUP BY lang
    """,
)

# ---------------------------------------------------------------------------
# IR / search family (operators/ir.py): TF-IDF, BM25, PMI. Oracle parity
# notes live on the module docstring (rank by exact ratios, never by ln;
# floor-scale rounding for logged outputs; fixed-order summation).
# ---------------------------------------------------------------------------
from bigdata1_spark.operators import ir  # noqa: E402

register(
    "tfidf_topterms",
    ir.tfidf_topterms,
    f"""
    WITH words AS (
      SELECT doc_id,
             unnest({_DUCK_TOKENS}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * (ln(CAST(n_docs + 1 AS DOUBLE)
                         / CAST(df + 1 AS DOUBLE)) + 1.0) AS score
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf,
           FLOOR(score * 1e6 + 0.5) / 1e6 AS score
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)

register(
    "bm25_search",
    ir.bm25_search,
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS w
      FROM documents
    ), dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(w) AS term FROM toks)
      WHERE term IN ('spark', 'hash', 'merge', 'window')
      GROUP BY 1, 2
    ), df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    s AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * (0.25 + 0.75
                    * (dl / (CAST(sum_dl AS DOUBLE)
                             / CAST(n_docs AS DOUBLE))))) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
    ), scores AS (
      SELECT doc_id,
             COALESCE(MAX(s) FILTER (WHERE term = 'spark'), 0.0)
             + COALESCE(MAX(s) FILTER (WHERE term = 'hash'), 0.0)
             + COALESCE(MAX(s) FILTER (WHERE term = 'merge'), 0.0)
             + COALESCE(MAX(s) FILTER (WHERE term = 'window'), 0.0)
               AS score
      FROM s GROUP BY 1
    )
    SELECT doc_id, FLOOR(score * 1e6 + 0.5) / 1e6 AS score,
           CAST(rn AS BIGINT) AS rnk
    FROM (
      SELECT doc_id, score, ROW_NUMBER() OVER (
        ORDER BY score DESC, doc_id ASC) AS rn
      FROM scores
    ) WHERE rn <= 10
    """,
)

register(
    "cooccur_pmi",
    ir.cooccur_pmi,
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS w
      FROM documents
    ), pairs AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i
      ) g
    ), bigrams AS (
      SELECT w1, w2, COUNT(*) AS b FROM pairs GROUP BY 1, 2
    ), uni AS (
      SELECT word, COUNT(*) AS u
      FROM (SELECT unnest(w) AS word FROM toks) GROUP BY 1
    ), totals AS (
      SELECT (SELECT SUM(b) FROM bigrams) AS tb,
             (SELECT SUM(u) FROM uni) AS t
    ), scored AS (
      SELECT bg.w1, bg.w2, bg.b,
             (CAST(bg.b AS DOUBLE) / CAST(tb AS DOUBLE))
               / ((CAST(u1.u AS DOUBLE) / CAST(t AS DOUBLE))
                  * (CAST(u2.u AS DOUBLE) / CAST(t AS DOUBLE))) AS ratio
      FROM bigrams bg
      JOIN uni u1 ON bg.w1 = u1.word
      JOIN uni u2 ON bg.w2 = u2.word, totals
      WHERE bg.b >= 5
    )
    SELECT w1, w2, CAST(b AS BIGINT) AS pairs,
           FLOOR(ln(ratio) * 1e6 + 0.5) / 1e6 AS pmi
    FROM scored ORDER BY ratio DESC, w1 ASC, w2 ASC LIMIT 50
    """,
)

# Reciprocal-rank fusion of the two hash-pinned retrievers: the oracle
# composes their registered oracles verbatim as CTEs, so the retriever
# contracts can't drift from what the fusion consumes. Ranks are exact
# integers; the fused score is one fixed-order IEEE chain.
register(
    "rrf_fusion",
    ir.rrf_fusion,
    f"""
    WITH lex AS ({{bm25}}),
    dense0 AS ({{sim}}),
    dense AS (
      SELECT vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC)
                  AS BIGINT) AS dense_rnk
      FROM dense0
    ), f AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.rnk AS lex_rnk, d.dense_rnk
      FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
    ), s AS (
      SELECT doc_id, lex_rnk, dense_rnk,
             (CASE WHEN lex_rnk IS NOT NULL
                   THEN 1.0 / (60.0 + CAST(lex_rnk AS DOUBLE))
                   ELSE 0.0 END)
             + (CASE WHEN dense_rnk IS NOT NULL
                     THEN 1.0 / (60.0 + CAST(dense_rnk AS DOUBLE))
                     ELSE 0.0 END) AS s
      FROM f
    )
    SELECT doc_id, lex_rnk, dense_rnk,
           FLOOR(s * 1e6 + 0.5) / 1e6 AS rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC)
                AS BIGINT) AS rnk
    FROM s
    QUALIFY rnk <= 10
    """.format(bm25=ORACLES["bm25_search"], sim=ORACLES["sim_topk"]),
)

# ---------------------------------------------------------------------------
# TPC-H completion (round 5): the six remaining classic shapes, adapted to
# the partsupp-less testdata schema exactly as documented on each operator
# (q4/q12 set the adaptation precedent). With these the full 22-query
# repertoire has a registered counterpart.
# ---------------------------------------------------------------------------

register(
    "tpch_q21",
    tpch.tpch_q21,
    """
    WITH f_lines AS (
      SELECT l.l_orderkey, l.l_suppkey,
             l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ), waiting AS (
      SELECT l1.l_orderkey, l1.l_suppkey
      FROM f_lines l1
      WHERE l1.late
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM f_lines l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM waiting w
    JOIN supplier s ON w.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 20
    """,
)

register(
    "tpch_q16",
    tpch.tpch_q16,
    """
    WITH assoc AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT a.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM assoc a
    JOIN part p ON a.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND a.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC, p.p_size ASC
    """,
)

register(
    "tpch_q20",
    tpch.tpch_q20,
    """
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM (
          SELECT l.l_suppkey, l.l_partkey,
                 CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS qty
          FROM lineitem l
          WHERE l.l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND l.l_shipdate >= DATE '1998-01-01'
            AND l.l_shipdate < DATE '1999-01-01'
          GROUP BY 1, 2
        ) WHERE qty > 25.0)
    ORDER BY s.s_name
    """,
)

register(
    "tpch_q11",
    tpch.tpch_q11,
    """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4))
                        - CAST(l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE) AS value
      FROM lineitem GROUP BY 1
    ), totals AS (
      SELECT CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS VARCHAR) AS DOUBLE)
               AS total,
             COUNT(*) AS n_parts
      FROM per_part
    )
    SELECT l_partkey, value
    FROM per_part, totals
    WHERE value > total / CAST(n_parts AS DOUBLE) * 1.1
    ORDER BY value DESC, l_partkey ASC
    """,
)

register(
    "tpch_q2",
    tpch.tpch_q2,
    """
    WITH assoc AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), eligible AS (
      SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
             MIN(s.s_acctbal) OVER (PARTITION BY p.p_partkey) AS min_bal
      FROM assoc a
      JOIN part p ON a.l_partkey = p.p_partkey
      JOIN supplier s ON a.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE p.p_type = 'STANDARD' AND p.p_size < 10
        AND r.r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM eligible WHERE s_acctbal = min_bal
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
    """,
)

register(
    "tpch_q9",
    tpch.tpch_q9,
    """
    SELECT nation, o_year, sum_rev - sum_cost * 0.5 AS profit FROM (
      SELECT n.n_name AS nation,
             strftime(o.o_orderdate, '%Y') AS o_year,
             CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4))
                        - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS VARCHAR) AS DOUBLE) AS sum_rev,
             CAST(CAST(ROUND(SUM(CAST(p.p_retailprice AS DECIMAL(18,4))
                     * CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS VARCHAR) AS DOUBLE) AS sum_cost
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
      GROUP BY 1, 2
    )
    ORDER BY nation ASC, o_year DESC
    """,
)

# ---------------------------------------------------------------------------
# Streaming keys 3 + 4 (round 5): stream-stream interval join and the
# at-least-once dedup guard, both drained availableNow through the
# idempotent per-batch-directory sink (streaming/events.py).
# ---------------------------------------------------------------------------

register(
    "events_attribution_streamed",
    streaming_events.events_attribution_streamed,
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)

# Salted twin of the stream-stream join above: state key (user_id,
# salt), purchase side replicated per salt — splits a hot user's
# checkpoint-pinned click state across n_salts store partitions (the
# skew sweep measured the unsalted join grinding ~35 min on the Zipf
# twin's hot user). Salting must not change the result multiset, so the
# oracle is the SAME batch self-join.
register(
    "events_salted_join_streamed",
    streaming_events.events_salted_join_streamed,
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)

register(
    "events_dedup_streamed",
    streaming_events.events_dedup_streamed,
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           value
    FROM events
    """,
)

# Streaming MERGE/upsert sink: two micro-batches folded through
# versioned latest-per-user outputs must equal the batch argmax.
register(
    "events_upsert_streamed",
    streaming_events.events_upsert_streamed,
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)

# ---------------------------------------------------------------------------
# Profiling / sampling additions (round 5): histogram, per-doc entropy,
# rate-based stratified sampling.
# ---------------------------------------------------------------------------

register(
    "histogram",
    relational.histogram,
    """
    WITH stats AS (
      SELECT event_type AS s_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY 1
    ), binned AS (
      SELECT e.event_type,
             CAST(LEAST(FLOOR((e.value - s.vmin) / (s.vmax - s.vmin)
                              * 10.0), 9) AS BIGINT) AS bucket,
             s.vmin, s.vmax
      FROM events e JOIN stats s ON e.event_type = s.s_type
    )
    SELECT event_type, bucket,
           FLOOR((vmin + (vmax - vmin)
                  * (CAST(bucket AS DOUBLE) / 10.0)) * 1e6 + 0.5) / 1e6
             AS lo,
           FLOOR((vmin + (vmax - vmin)
                  * (CAST(bucket + 1 AS DOUBLE) / 10.0)) * 1e6 + 0.5) / 1e6
             AS hi,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM binned GROUP BY event_type, bucket, vmin, vmax
    """,
)

register(
    "doc_entropy",
    text_analysis.doc_entropy,
    f"""
    WITH wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt
      FROM (
        SELECT doc_id,
               unnest({_DUCK_TOKENS}) AS word
        FROM documents
      ) GROUP BY 1, 2
    ), per_doc AS (
      SELECT doc_id, SUM(cnt) AS n_tokens,
             list(cnt ORDER BY word) AS wcs
      FROM wc GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           FLOOR(-list_reduce(
             list_prepend(0.0, list_transform(wcs, c ->
               (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)))),
             (acc, t) -> acc + t) * 1e6 + 0.5) / 1e6 AS entropy
    FROM per_doc
    """,
)

register(
    "sample_stratified",
    corpus.sample_stratified,
    """
    SELECT doc_id, lang, bucket FROM (
      SELECT doc_id, lang,
             CAST(16 * (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                  + (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                  AS BIGINT) AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang
      WHEN 'en' THEN 192 WHEN 'fr' THEN 128 WHEN 'de' THEN 128
      WHEN 'es' THEN 64 WHEN 'zh' THEN 64 ELSE 0 END
    """,
)

# ---------------------------------------------------------------------------
# Embedding-column profiling + kNN classification (round 5).
# ---------------------------------------------------------------------------

# Product quantization: hash-sampled codebooks keep the oracle exact;
# recon_err is summed in fixed subspace order on BOTH sides so the
# floating addition order (and hence the 1e-6 rounding) cannot drift.
register(
    "pq_encode",
    similarity.pq_encode,
    f"""
    WITH e AS ({_duck_vectors()}),
    cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h FROM e
            ORDER BY h, vec_id LIMIT 8)
    ),
    dists AS (
      SELECT e.vec_id, c.cid, s.s,
             list_reduce(
               list_transform(generate_series(1, 16),
                 i -> (e.v[(s.s - 1) * 16 + i] - c.cv[(s.s - 1) * 16 + i])
                    * (e.v[(s.s - 1) * 16 + i] - c.cv[(s.s - 1) * 16 + i])),
               (a, b) -> a + b) AS d
      FROM e, cents c, (SELECT unnest(generate_series(1, 4)) AS s) s
    ),
    best AS (
      SELECT vec_id, s, cid, d,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, s ORDER BY d, cid) AS rn
      FROM dists
    ),
    per_sub AS (
      SELECT vec_id,
             MAX(CASE WHEN s = 1 THEN cid END) AS code_1,
             MAX(CASE WHEN s = 2 THEN cid END) AS code_2,
             MAX(CASE WHEN s = 3 THEN cid END) AS code_3,
             MAX(CASE WHEN s = 4 THEN cid END) AS code_4,
             MAX(CASE WHEN s = 1 THEN d END) AS d1,
             MAX(CASE WHEN s = 2 THEN d END) AS d2,
             MAX(CASE WHEN s = 3 THEN d END) AS d3,
             MAX(CASE WHEN s = 4 THEN d END) AS d4
      FROM best WHERE rn = 1 GROUP BY vec_id
    )
    SELECT vec_id, code_1, code_2, code_3, code_4,
           FLOOR((d1 + d2 + d3 + d4) * 1e6 + 0.5) / 1e6 AS recon_err
    FROM per_sub
    """,
)

register(
    "embedding_norms",
    similarity.embedding_norms,
    f"""
    WITH e AS ({_duck_vectors(label=True)})
    SELECT vec_id, label,
           FLOOR(sqrt(list_dot_product(v, v)) * 1e6 + 0.5) / 1e6 AS norm
    FROM e
    """,
)

register(
    "centroid_per_label",
    similarity.centroid_per_label,
    """
    WITH exploded AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS q
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
           (CAST(SUM(q) AS DOUBLE) / 1e6) / CAST(COUNT(*) AS DOUBLE)
             AS centroid
    FROM exploded GROUP BY 1, 2
    """,
)

register(
    "knn_classify",
    similarity.knn_classify,
    f"""
    WITH e AS ({_duck_vectors(label=True)}), q AS (
      SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8
    ), scored AS (
      SELECT q.q_id, e.vec_id, e.label,
             {_DUCK_COS.format(a='e.v', b='q.qv')} AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id >= 8
    ), neighbors AS (
      SELECT q_id, label FROM (
        SELECT q_id, label, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ), votes AS (
      SELECT q_id, label, CAST(COUNT(*) AS BIGINT) AS votes
      FROM neighbors GROUP BY 1, 2
    )
    SELECT q_id, label AS pred_label, votes FROM (
      SELECT q_id, label, votes, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY votes DESC, label ASC) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
)

# ---------------------------------------------------------------------------
# Event analytics (operators/event_analytics.py): funnel, concurrency,
# retention — exact-integer outputs, no float hazards by construction.
# ---------------------------------------------------------------------------
from bigdata1_spark.operators import event_analytics  # noqa: E402

register(
    "funnel_conversion",
    event_analytics.funnel_conversion,
    """
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), t2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
    ), t3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
    ), users AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                     WHEN t2.t2 IS NOT NULL THEN 2
                     WHEN t1.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage_reached,
           COALESCE(strftime(t1.t1, '%Y-%m-%d %H:%M:%S.%f'), '')
             AS t_signup,
           COALESCE(strftime(t2.t2, '%Y-%m-%d %H:%M:%S.%f'), '')
             AS t_click,
           COALESCE(strftime(t3.t3, '%Y-%m-%d %H:%M:%S.%f'), '')
             AS t_purchase
    FROM users u
    LEFT JOIN t1 ON u.user_id = t1.user_id
    LEFT JOIN t2 ON u.user_id = t2.user_id
    LEFT JOIN t3 ON u.user_id = t3.user_id
    """,
)

register(
    "concurrency",
    event_analytics.concurrency,
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
      SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ), sessions AS (
      SELECT MIN(ts) AS s, MAX(ts) AS e
      FROM tagged GROUP BY user_id, sess_id
    ), hours AS (
      SELECT g.h
      FROM sessions, LATERAL (
        SELECT unnest(generate_series(
          date_trunc('hour', s), date_trunc('hour', e),
          INTERVAL 1 HOUR)) AS h
      ) g
    )
    SELECT strftime(h, '%Y-%m-%d %H:00:00') AS hour,
           CAST(COUNT(*) AS BIGINT) AS active_sessions
    FROM hours GROUP BY 1
    """,
)

register(
    "retention_cohorts",
    event_analytics.retention_cohorts,
    """
    WITH ev AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), first_seen AS (
      SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
           CAST(e.day - f.cohort AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM ev e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)

# Growth curve: cumulative distinct = running sum of first-seen counts,
# so no window ever sees row-level data (day table is calendar-bounded).
register(
    "cumulative_distinct",
    event_analytics.cumulative_distinct,
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
    ), per_day AS (
      SELECT day, COUNT(*) AS n_new FROM first_seen GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_cum
    FROM per_day
    """,
)

# Native session_window API twin of `sessionize` — `>=` gap boundary
# (session windows are [t, t+gap), end-exclusive; see the docstring).
_SESSION_NATIVE_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, us,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w >= 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
"""

register(
    "session_window_fn",
    event_analytics.session_window_native,
    _SESSION_NATIVE_ORACLE,
)

register(
    "event_transitions",
    event_analytics.event_transitions,
    """
    WITH pairs AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ), counts AS (
      SELECT from_type, to_type, COUNT(*) AS cnt
      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, cnt,
           CAST(cnt AS DOUBLE) /
             CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
    FROM counts
    """,
)

register(
    "unpivot_metrics",
    micro.unpivot_metrics,
    """
    SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber,
             'l_quantity' AS metric, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber,
             'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    )
    """,
)

register(
    "rollup_multires",
    event_analytics.rollup_multires,
    """
    SELECT '1d' AS resolution,
           strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 2
    UNION ALL
    SELECT '1h', strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
           COUNT(*),
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    FROM events GROUP BY 2
    UNION ALL
    SELECT '1m', strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S'),
           COUNT(*),
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    FROM events GROUP BY 2
    """,
)

register(
    "pii_scrub",
    text_analysis.pii_scrub,
    """
    WITH contact AS (
      SELECT c_custkey,
             'Contact ' || c_name || ' <'
               || lower(replace(c_name, ' ', '.')) || '@example.com'
               || '> or call '
               || lpad(CAST(c_nationkey AS VARCHAR), 2, '0') || '-'
               || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' segment ' || c_mktsegment AS raw
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(raw, '[a-zA-Z0-9.#_]+@[a-zA-Z0-9.]+',
                            '<EMAIL>', 'g'),
             '[0-9]{2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text,
           len(regexp_extract_all(raw, '[a-zA-Z0-9.#_]+@[a-zA-Z0-9.]+'))
             AS n_email,
           len(regexp_extract_all(raw, '[0-9]{2}-[0-9]{3}-[0-9]{4}'))
             AS n_phone
    FROM contact
    """,
)

register(
    "ntile_stats",
    relational.ntile_stats,
    """
    WITH t AS (
      SELECT l_extendedprice AS p,
             NTILE(10) OVER (ORDER BY l_extendedprice) AS bucket
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(p) AS min_price, MAX(p) AS max_price,
           CAST(CAST(SUM(CAST(p AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
    FROM t GROUP BY bucket
    """,
)

# ---------------------------------------------------------------------------
# Graph analytics (operators/graph.py): degree, triangles, PageRank over
# graphs derived from the order network
# ---------------------------------------------------------------------------
from bigdata1_spark.operators import graph  # noqa: E402

register(
    "graph_degree",
    graph.graph_degree,
    f"""
    WITH e AS ({_DUCK_CO_SUPPLIER_EDGES})
    SELECT node, COUNT(*) AS degree
    FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
    GROUP BY node
    """,
)

register(
    "triangle_count",
    graph.triangle_count,
    f"""
    WITH e AS ({_DUCK_CO_SUPPLIER_EDGES}),
    tri AS (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM (SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri)
    GROUP BY node
    """,
)

def _pagerank_unrolled_sql(iters: int) -> str:
    """Generate the pagerank oracle by unrolling the fixed iteration
    count into chained CTEs (round 7 — the LAST rows-only key gains a
    full value-hash oracle). Each unrolled round mirrors the Spark
    kernel exactly: double rank/outdeg division, contribution cast to
    DECIMAL(27,15) (associative sum), decimal sum back to double via
    the VARCHAR route (single correct rounding), then base + damping ·
    in_sum in double with identical literals. A recursive CTE cannot
    express this (aggregates are barred from the recursive member);
    a FIXED iteration count unrolls instead — which is also why the
    registry pins iters=3 rather than iterating to convergence.
    Caveat shared with the Spark plan: the double→decimal(27,15) cast
    could tie only on dyadic ratios with a 16-digit expansion (rank 1
    over a power-of-two outdeg ≥ 2^16) — outside this graph's degree
    range and vanishing after iteration 1's non-dyadic ranks."""
    parts = [
        f"""
    WITH {_DUCK_PAGERANK_EDGES},
    nodes AS (SELECT src AS node, outdeg FROM outdeg),
    r0 AS (SELECT node, outdeg, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"""
    ]
    for k in range(iters):
        parts.append(f""",
    c{k} AS (
      SELECT e.dst AS node,
             CAST(CAST(SUM(CAST(r.rank / r.outdeg AS DECIMAL(27,15)))
                       AS VARCHAR) AS DOUBLE) AS in_sum
      FROM r{k} r JOIN edges e ON e.src = r.node
      GROUP BY e.dst
    ),
    r{k + 1} AS (
      SELECT n.node, n.outdeg,
             0.15 + 0.85 * COALESCE(c.in_sum, 0.0) AS rank
      FROM nodes n LEFT JOIN c{k} c ON n.node = c.node
    )""")
    parts.append(f"""
    SELECT CASE WHEN node > 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           abs(node) AS node_id,
           floor(rank * 1e6 + 0.5) / 1e6 AS rank
    FROM r{iters}""")
    return "".join(parts)


register("pagerank", graph.pagerank, _pagerank_unrolled_sql(iters=3))

# One exactly-unrolled iteration of the same kernel IS plain SQL — this
# pins the per-iteration join/agg/damping arithmetic against DuckDB;
# only the iteration count stays rows-only (invariants in test_graph.py).
register(
    "pagerank_iter1",
    graph.pagerank_iter1,
    f"""
    WITH {_DUCK_PAGERANK_EDGES},
    contrib AS (
      SELECT e.dst AS node,
             CAST(CAST(SUM(CAST(CAST(1.0 AS DOUBLE) / o.outdeg
                           AS DECIMAL(27,15))) AS VARCHAR) AS DOUBLE) AS in_sum
      FROM edges e JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    )
    SELECT CASE WHEN node > 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           abs(node) AS node_id,
           floor((0.15 + 0.85 * in_sum) * 1e6 + 0.5) / 1e6 AS rank
    FROM contrib
    """,
)

_SLIDING_ORACLE = """
    WITH member AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM member GROUP BY 1, 2
    """

register(
    "events_sliding",
    streaming_events.events_sliding,
    _SLIDING_ORACLE,
)

register(
    "events_sliding_streamed",
    streaming_events.events_sliding_streamed,
    _SLIDING_ORACLE,
)

# Streaming twin of session_window_fn: append-mode native session_window
# aggregation, watermark-finalized via sentinel flush (same oracle).
register(
    "events_session_streamed",
    streaming_events.events_session_streamed,
    _SESSION_NATIVE_ORACLE,
)

# applyInPandasWithState sessionizer drained against the SAME oracle as
# the batch gaps-and-islands key (`>` gap semantics — microsecond state).
register(
    "events_stateful_sessions_streamed",
    streaming_events.events_stateful_sessions_streamed,
    ORACLES["sessionize"],
)

# Stream-STATIC enrichment join: no watermark, no join state, no
# sentinel flush — the static dim re-resolves per micro-batch.
register(
    "events_enrich_streamed",
    streaming_events.events_enrich_streamed,
    """
    WITH dim AS (
      SELECT user_id, strftime(MIN(ts), '%Y-%m-%d') AS cohort
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.user_id, e.event_type,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           d.cohort
    FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
)

# Watermark-finalized stream-stream LEFT OUTER interval join: unmatched
# clicks emit with NULLs only after state eviction proves no match can
# still arrive.
register(
    "events_leftjoin_streamed",
    streaming_events.events_leftjoin_streamed,
    """
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id AS p_user, ts AS purchase_ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id,
           strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           p.purchase_value
    FROM clicks c LEFT JOIN purch p
      ON c.user_id = p.p_user
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    """,
)

register(
    "observed_metrics",
    api_surface.observed_metrics,
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM lineitem
    """,
)

register(
    "skyline",
    relational.skyline,
    """
    SELECT x.p_partkey, x.p_name, x.p_retailprice, x.p_size
    FROM part x
    WHERE NOT EXISTS (
      SELECT 1 FROM part y
      WHERE y.p_retailprice <= x.p_retailprice
        AND y.p_size >= x.p_size
        AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size)
    )
    """,
)

register(
    "scalar_url",
    micro.scalar_url,
    """
    WITH u AS (
      SELECT c_custkey,
             'https://mkt-' || lower(c_mktsegment)
               || '.example.com/customers/' || CAST(c_custkey AS VARCHAR)
               || '?seg=' || lower(c_mktsegment)
               || '&n=' || CAST(c_nationkey AS VARCHAR) AS url
      FROM customer
    )
    SELECT c_custkey,
           regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]seg=([^&#]*)', 1) AS seg
    FROM u
    """,
)

# ---------------------------------------------------------------------------
# Round-6 batch: entity matching, data layout, deterministic mode, snapshot
# diff
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import dq, layout, matching  # noqa: E402
from bigdata1_spark.plans import skew as plans_skew  # noqa: E402

# Deequ-style expectation suite: all row-local checks in ONE aggregate
# pass; only the referential check pays a (key-only) join.
register(
    "dq_expectations",
    dq.dq_expectations,
    """
    WITH m AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
               AS nulls_qty,
             SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                 THEN 1 ELSE 0 END) AS oor_discount,
             SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
               AS nonpos_price,
             COUNT(DISTINCT (l_orderkey, l_linenumber, l_partkey,
                             l_suppkey, l_quantity)) AS n_keys
      FROM lineitem
    ), orph AS (
      SELECT COUNT(*) AS n_orphans FROM lineitem l
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
      )
    ), long AS (
      SELECT 'completeness_quantity' AS check_name, nulls_qty AS metric
      FROM m
      UNION ALL SELECT 'range_discount', oor_discount FROM m
      UNION ALL SELECT 'positive_price', nonpos_price FROM m
      UNION ALL SELECT 'unique_line_key', n_rows - n_keys FROM m
      UNION ALL SELECT 'orders_referential', n_orphans FROM orph
    )
    SELECT check_name, CAST(metric AS BIGINT) AS metric,
           CAST(metric = 0 AS BIGINT) AS passed
    FROM long
    """,
)

# PSI drift per bucket: exact integer counts, one fixed-order IEEE chain
# per row (the doc_entropy ln-parity discipline), floor-rounded 1e-6.
register(
    "psi_drift",
    dq.psi_drift,
    """
    WITH tagged AS (
      SELECT least(greatest(CAST(FLOOR((l_extendedprice - 0.0) / 20000.0)
                                 AS BIGINT), 0), 9) AS bucket,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1)
               % 2 AS half
      FROM lineitem
    ), counts AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM tagged GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b
      FROM counts
    )
    SELECT bucket, n_a, n_b,
           FLOOR(((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + 10 AS DOUBLE))
                  - (CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + 10 AS DOUBLE)))
                 * ln((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + 10 AS DOUBLE))
                      / (CAST(n_b + 1 AS DOUBLE)
                         / CAST(tot_b + 10 AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS psi_term
    FROM counts, tot
    """,
)

# k-anonymity / l-diversity privacy profile: one scan, one groupBy,
# exact integers only. NULL quasi-identifiers form their own class in
# both engines; COUNT(DISTINCT) ignores NULL sensitive values in both.
register(
    "k_anonymity",
    dq.k_anonymity,
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                AS BIGINT) AS l_diversity,
           CAST(CASE WHEN COUNT(*) < 5
                       OR COUNT(DISTINCT
                            CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) < 3
                     THEN 1 ELSE 0 END AS BIGINT) AS at_risk
    FROM customer
    GROUP BY 1, 2
    """,
)

# Chunk-level dedup stats (boilerplate detector) — oracle wraps the
# doc_chunking oracle so the chunker contract can't drift.
register(
    "dedup_chunks",
    corpus.dedup_chunks,
    f"""
    WITH chunks AS ({ORACLES["doc_chunking"]})
    SELECT chunk_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM chunks GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)

# Two-pass global enumeration: fixed key-range buckets + cumulative
# offsets over the 64-row bucket table — no single-partition window,
# no driver collect; equals the naive global ROW_NUMBER.
register(
    "global_enumerate",
    relational.global_enumerate,
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER (
             ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS idx
    FROM lineitem
    """,
)

# Exact-K deterministic per-group sample (content-hash order).
register(
    "sample_exact_k",
    corpus.sample_exact_k,
    """
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY md5(text) ASC NULLS LAST, doc_id
             ) AS BIGINT) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
)

# Two-stage salted aggregation over the hottest real key — equals the
# plain GROUP BY by associativity, which the oracle pins.
register(
    "skew_salted_agg",
    plans_skew.skew_salted_agg,
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)

# Replication-salted join on the canonical hot FK (l_suppkey) — equals
# the unsalted inner join by construction, which the oracle pins; the
# Zipf-skewed bench twin (`tools/gen_twin.py skew`) gives the hot key ~18% of
# all rows so the salting is exercised by data that needs it.
register(
    "skew_salted_join",
    plans_skew.skew_salted_join,
    """
    SELECT s.s_nationkey AS nationkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)

# Streaming twin of skew_salted_agg: the stateful case explicit
# salting exists for (a streaming agg's state partitioning is
# checkpoint-pinned on the grouping key — AQE cannot split a hot key's
# state partition at runtime). Partial agg keyed (event_type, salt) in
# the stream, final merge batch-side in the foreachBatch sink; result
# equals the plain groupBy by associativity, which the same oracle pins.
register(
    "events_salted_agg_streamed",
    streaming_events.events_salted_agg_streamed,
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)

# Bounded-contract ER (r15): at most FUZZY_MAX_REPS representative
# keys (lowest ids) per (brand, name) group — unbounded, the output
# was Θ(sf²). The oracle mirrors the cap with list_sort + slice; the
# unordered name-pair + least/greatest flip reproduces the Spark
# side's pair normalization exactly.
register(
    "fuzzy_join",
    matching.fuzzy_join,
    f"""
    WITH g AS (
      SELECT p_brand, p_name, CAST(COUNT(*) AS BIGINT) AS n,
             (list_sort(list(p_partkey)))[1:{matching.FUZZY_MAX_REPS}]
               AS keys
      FROM part WHERE p_partkey IS NOT NULL
      GROUP BY 1, 2
    ), names AS (
      SELECT DISTINCT p_name FROM part
    ), np AS (
      SELECT x.p_name AS na, y.p_name AS nb,
             CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS dist
      FROM names x JOIN names y ON x.p_name <= y.p_name
      WHERE levenshtein(x.p_name, y.p_name) <= 2
    ), cand AS (
      SELECT np.na, np.nb, np.dist,
             ga.n AS n_a, gb.n AS n_b,
             ga.keys AS keys_a, gb.keys AS keys_b
      FROM g ga JOIN np ON ga.p_name = np.na
      JOIN g gb ON gb.p_brand = ga.p_brand AND gb.p_name = np.nb
    ), e1 AS (
      SELECT na, nb, dist, n_a, n_b, unnest(keys_a) AS ka, keys_b
      FROM cand
    ), e2 AS (
      SELECT na, nb, dist, n_a, n_b, ka, unnest(keys_b) AS kb FROM e1
    )
    SELECT LEAST(ka, kb) AS a_key, GREATEST(ka, kb) AS b_key,
           CASE WHEN ka > kb THEN nb ELSE na END AS a_name,
           CASE WHEN ka > kb THEN na ELSE nb END AS b_name,
           dist,
           CASE WHEN ka > kb THEN n_b ELSE n_a END AS a_group_n,
           CASE WHEN ka > kb THEN n_a ELSE n_b END AS b_group_n
    FROM e2
    WHERE (na <> nb) OR (ka < kb)
    """,
)

# zval arithmetic mirrored term-for-term between engines (bitwise ops are
# exact integer arithmetic — no float anywhere).
_ZORDER_TERMS = " + ".join(
    f"(((cell_x >> {i}) & 1) << {2 * i})"
    f" + (((cell_y >> {i}) & 1) << {2 * i + 1})"
    for i in range(6)
)

register(
    "zorder_cluster",
    layout.zorder_cluster,
    f"""
    WITH q AS (
      SELECT p_partkey,
             least(greatest(CAST(p_size AS BIGINT), 0), 63) AS cell_x,
             least(greatest(CAST(floor(p_retailprice / 32.0) AS BIGINT),
                            0), 63) AS cell_y
      FROM part
    )
    SELECT p_partkey, cell_x, cell_y,
           CAST({_ZORDER_TERMS} AS BIGINT) AS zval
    FROM q
    """,
)

# The layout (bucketed tables) changes the PLAN, never the rows — the
# oracle is the plain join aggregate. tests/test_plans.py pins the
# zero-exchange sort-merge join that is the key's whole point.
register(
    "bucketed_join",
    layout.bucketed_join,
    """
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)

register(
    "groupby_median_mode",
    relational.groupby_median_mode,
    """
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med_qty
      FROM lineitem GROUP BY 1
    ), counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY cnt DESC, l_quantity ASC
             ) AS rn
      FROM counts
    )
    SELECT m.l_returnflag, m.med_qty, r.mode_qty, r.mode_cnt
    FROM med m JOIN ranked r
      ON m.l_returnflag = r.l_returnflag AND r.rn = 1
    """,
)

register(
    "table_diff",
    relational.table_diff,
    """
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    ), b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN '0-ESCALATED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 13 <> 3
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', '9-BACKFILL'
      FROM orders WHERE o_orderkey % 11 = 5
    ), diff AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE
               WHEN a.o_orderkey IS NULL THEN 'added'
               WHEN b.o_orderkey IS NULL THEN 'removed'
               WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                 OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
                 THEN 'changed'
               ELSE 'unchanged'
             END AS change
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT o_orderkey, change FROM diff WHERE change <> 'unchanged'
    """,
)

# ---------------------------------------------------------------------------
# Round-7 pipeline additions: CDC replay, incremental view maintenance,
# interval-overlap range join — the three table-maintenance / range-join
# kernels a lakehouse feeding an LLM pipeline runs daily.
# ---------------------------------------------------------------------------

# CDC apply: the md5-derived op column lets DuckDB replay the identical
# log; last-per-key is a struct-MAX in Spark and the equivalent
# ROW_NUMBER pick here (event_id uniqueness makes them identical).
register(
    "cdc_apply",
    relational.cdc_apply,
    """
    WITH log AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             (['D', 'I', 'I', 'U', 'U', 'U', 'U', 'U', 'U', 'U'])[
               CAST(CAST('0x' || substr(md5('cdc|' || event_id), 1, 15)
                         AS BIGINT) % 10 AS INT) + 1] AS op,
             value
      FROM events
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY us DESC, event_id DESC) AS rn,
             COUNT(*) OVER (
               PARTITION BY user_id, event_type) AS n_ops
      FROM log
    )
    SELECT user_id, event_type, CAST(n_ops AS BIGINT) AS n_ops,
           op AS last_op, value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)

# IVM merge: the oracle recomputes the view from scratch over the signed
# multiset — if the incremental merge ever drifts from the recompute,
# the hash catches it (the whole point of the operator).
register(
    "ivm_delta_agg",
    relational.ivm_delta_agg,
    """
    WITH signed AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate >= DATE '1997-01-01'
                   AND CAST('0x' || substr(md5('ivm|' || o_orderkey),
                                           1, 15) AS BIGINT) % 10 = 0
                  THEN -1 ELSE 1 END AS s,
             CAST(o_totalprice AS DECIMAL(18,4)) AS price
      FROM orders
    ), agg AS (
      SELECT o_custkey, SUM(s) AS n_orders, SUM(s * price) AS tot
      FROM signed GROUP BY 1
    )
    SELECT o_custkey, CAST(n_orders AS BIGINT) AS n_orders,
           CAST(CAST(ROUND(tot, 2) AS VARCHAR) AS DOUBLE) AS total_spent
    FROM agg WHERE n_orders > 0
    """,
)

register(
    "interval_overlap_join",
    temporal.interval_overlap_join,
    """
    WITH acts AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) + 1 AS hi
      FROM events GROUP BY 1, 2
    ), incs AS (
      SELECT user_id, event_id, epoch_us(ts) AS ilo,
             epoch_us(ts) + 7200000000 AS ihi
      FROM events WHERE event_type = 'error'
    )
    SELECT i.event_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(LEAST(a.hi, i.ihi) - GREATEST(a.lo, i.ilo))
                AS BIGINT) AS total_overlap_us
    FROM incs i JOIN acts a
      ON i.user_id = a.user_id AND i.ilo < a.hi AND a.lo < i.ihi
    GROUP BY 1
    """,
)

# Dynamic partition pruning: the oracle is the plain join-aggregate (a
# pruned scan must return exactly what the full scan would); the
# runtime-pruning guarantee itself is asserted STRUCTURALLY inside
# dpp_join (missing `dynamicpruning` in the fact scan raises, failing
# this key's correctness row — not just a benchmark).
register(
    "dpp_join",
    jsonl.dpp_join,
    """
    WITH dim_all(month, campaign) AS (
      VALUES ('1995-03', 'spring95'), ('1995-04', 'spring95b'),
             ('1996-01', 'retired96')
    ), dim AS (
      SELECT * FROM dim_all WHERE campaign LIKE 'spring%'
    )
    SELECT d.month, d.campaign,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                     AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders o
    JOIN dim d ON strftime(o.o_orderdate, '%Y-%m') = d.month
    GROUP BY 1, 2
    """,
)

# One unrolled BPE round: the oracle repeats argmax → literal-replace
# merge → recount in SQL; replace() scanning is left-to-right
# non-overlapping in both engines (= BPE's greedy pass, parity-tested
# in tests/test_numeric_parity-adjacent cases within the operator
# docstring evidence).
register(
    "bpe_merge_round",
    text_analysis.bpe_merge_round,
    f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS w
      FROM documents
    ), words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS wcnt
      FROM toks GROUP BY 1 HAVING len(word) >= 2
    ), spaced AS (
      SELECT array_to_string(
               list_transform(range(1, len(word) + 1),
                              i -> substr(word, i, 1)), ' ') AS w,
             wcnt
      FROM words
    ), pair1 AS (
      SELECT {_duck_ngram(2, "syms")} AS pair, wcnt
      FROM (SELECT string_split(w, ' ') AS syms, wcnt FROM spaced),
           (SELECT unnest(generate_series(1, len(syms) - 1)) AS i)
    ), best AS (
      SELECT pair AS mpair, replace(pair, ' ', '') AS mtok
      FROM (SELECT pair, SUM(wcnt) AS freq FROM pair1 GROUP BY 1)
      ORDER BY freq DESC, pair LIMIT 1
    ), merged AS (
      SELECT replace(s.w, b.mpair, b.mtok) AS w, s.wcnt, b.mpair
      FROM spaced s CROSS JOIN best b
    ), pair2 AS (
      SELECT mpair, {_duck_ngram(2, "syms")} AS pair, wcnt
      FROM (SELECT string_split(w, ' ') AS syms, wcnt, mpair
            FROM merged),
           (SELECT unnest(generate_series(1, len(syms) - 1)) AS i)
    )
    SELECT mpair AS merged_pair, pair, CAST(SUM(wcnt) AS BIGINT) AS freq
    FROM pair2 GROUP BY 1, 2
    ORDER BY freq DESC, pair LIMIT 30
    """,
)

# LATERAL + parameterized SQL: the oracle is the window formulation the
# decorrelated plan is equivalent to (Catalyst rewrites the correlated
# LIMIT subquery to ranking windows — asserted in the docstring's plan
# note, value-pinned here).
register(
    "sql_lateral",
    api_surface.sql_lateral,
    """
    WITH ranked AS (
      SELECT n.n_name, c.c_name, c.c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY n.n_nationkey
               ORDER BY c.c_acctbal DESC, c.c_name) AS rn
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE c.c_acctbal > 1000.0
    )
    SELECT n_name, c_name, c_acctbal FROM ranked WHERE rn <= 2
    """,
)

# WITH RECURSIVE on both engines over the same text (FLOOR-pinned
# division — bare / truncates on int-cast in Spark, rounds in DuckDB).
register(
    "sql_recursive",
    api_surface.sql_recursive,
    """
    WITH RECURSIVE tree(node, depth) AS (
      SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
      UNION ALL
      SELECT s.s_suppkey, t.depth + 1
      FROM tree t JOIN supplier s
        ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = t.node
           AND s.s_suppkey > 1
    )
    SELECT depth, COUNT(*) AS n_nodes,
           MIN(node) AS min_key, MAX(node) AS max_key
    FROM tree GROUP BY depth
    """,
)

# Weighted Bernoulli thinning: the keep decision is exact integer
# cross-multiplication (h·w_max < w·2^60) in HUGEINT — no float in the
# probability scaling on either engine.
register(
    "sample_weighted",
    corpus.sample_weighted,
    """
    WITH wm AS (SELECT MAX(n_chars) AS w_max FROM documents),
    dec AS (
      SELECT d.lang, d.n_chars,
             CAST(CAST('0x' || substr(md5('wsamp|' || d.doc_id), 1, 15)
                       AS BIGINT) AS HUGEINT) * w.w_max
               < CAST(d.n_chars AS HUGEINT) * 1152921504606846976
               AS keep
      FROM documents d CROSS JOIN wm w
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM dec GROUP BY 1
    """,
)

# Two chained BPE rounds: both merge applications go through the
# doubled-delimiter encoding ('.a..b..c.' with '.' = chr(31), a char
# that cannot survive whitespace tokenization into a symbol — ADVICE r8;
# pattern '.a..b.' borrows one delimiter from each side's boundary), so
# the literal replace is
# symbol-aligned even for the multi-char symbols round 2 creates —
# the alignment argument round 1 got for free from 1-char symbols.
# Both engines' non-regex replace() scans left-to-right non-overlapping,
# so the SQL mirrors the expression verbatim.
register(
    "bpe_merge_round2",
    text_analysis.bpe_merge_round2,
    f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS w
      FROM documents
    ), words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS wcnt
      FROM toks GROUP BY 1 HAVING len(word) >= 2
    ), spaced AS (
      SELECT array_to_string(
               list_transform(range(1, len(word) + 1),
                              i -> substr(word, i, 1)), ' ') AS w,
             wcnt
      FROM words
    ), pair1 AS (
      SELECT {_duck_ngram(2, "syms")} AS pair, wcnt
      FROM (SELECT string_split(w, ' ') AS syms, wcnt FROM spaced),
           (SELECT unnest(generate_series(1, len(syms) - 1)) AS i)
    ), best1 AS (
      SELECT pair AS mpair1
      FROM (SELECT pair, SUM(wcnt) AS freq FROM pair1 GROUP BY 1)
      ORDER BY freq DESC, pair LIMIT 1
    ), merged1pre AS (
      SELECT s.wcnt, b.mpair1,
             replace(chr(31) || replace(s.w, ' ', chr(31) || chr(31))
                       || chr(31),
                     chr(31) || replace(b.mpair1, ' ', chr(31) || chr(31))
                       || chr(31),
                     chr(31) || replace(b.mpair1, ' ', '') || chr(31)) AS m
      FROM spaced s CROSS JOIN best1 b
    ), merged1 AS (
      SELECT replace(substr(m, 2, len(m) - 2), chr(31) || chr(31), ' ') AS w,
             wcnt, mpair1
      FROM merged1pre
    ), pair2 AS (
      SELECT {_duck_ngram(2, "syms")} AS pair, wcnt
      FROM (SELECT string_split(w, ' ') AS syms, wcnt FROM merged1),
           (SELECT unnest(generate_series(1, len(syms) - 1)) AS i)
    ), best2 AS (
      SELECT pair AS mpair2
      FROM (SELECT pair, SUM(wcnt) AS freq FROM pair2 GROUP BY 1)
      ORDER BY freq DESC, pair LIMIT 1
    ), merged2pre AS (
      SELECT m1.mpair1, b.mpair2, m1.wcnt,
             replace(chr(31) || replace(m1.w, ' ', chr(31) || chr(31))
                       || chr(31),
                     chr(31) || replace(b.mpair2, ' ', chr(31) || chr(31))
                       || chr(31),
                     chr(31) || replace(b.mpair2, ' ', '') || chr(31)) AS m
      FROM merged1 m1 CROSS JOIN best2 b
    ), merged2 AS (
      SELECT mpair1, mpair2,
             replace(substr(m, 2, len(m) - 2), chr(31) || chr(31), ' ') AS w, wcnt
      FROM merged2pre
    ), pair3 AS (
      SELECT mpair1, mpair2,
             {_duck_ngram(2, "syms")} AS pair, wcnt
      FROM (SELECT string_split(w, ' ') AS syms, wcnt, mpair1, mpair2
            FROM merged2),
           (SELECT unnest(generate_series(1, len(syms) - 1)) AS i)
    )
    SELECT mpair1 AS merged_pair1, mpair2 AS merged_pair2, pair,
           CAST(SUM(wcnt) AS BIGINT) AS freq
    FROM pair3 GROUP BY 1, 2, 3
    ORDER BY freq DESC, pair LIMIT 30
    """,
)


# SemDeDup (clustering-blocked semantic dedup): the oracle unrolls the
# SAME fixed-iteration integer-grid k-means the Spark operator runs —
# squared distances and per-cluster means are exact double arithmetic on
# the 1e-5 grid, so assignments agree bit-for-bit across engines (no
# float argmin drift), and the final within-cluster cosines reuse the
# proven dedup_embedding fold semantics.
def _semdedup_sql(select_tail: str) -> str:
    from bigdata1_spark.operators.dedup import (
        SEMDEDUP_GRID,
        SEMDEDUP_ITERS,
        SEMDEDUP_K,
    )

    dim = 64
    grid = f"{SEMDEDUP_GRID:.1f}"

    def assign(name: str, cent: str, cols: str) -> str:
        return f"""{name} AS (
      SELECT {cols} FROM (
        SELECT q.vec_id, q.vq, c.cid AS cluster,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(range(1, {dim + 1}),
                   i -> (q.vq[i] - c.c[i]) * (q.vq[i] - c.c[i]))), c.cid
               ) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn = 1
    )"""

    def update(name: str, src: str) -> str:
        return f"""{name}m AS (
      SELECT cluster, i, floor(avg(x) + 0.5) AS cx FROM (
        SELECT cluster, unnest(vq) AS x,
               unnest(range(1, {dim + 1})) AS i FROM {src}
      ) ex GROUP BY cluster, i
    ), {name} AS (
      SELECT cluster AS cid, list(cx ORDER BY i) AS c
      FROM {name}m GROUP BY cluster
    )"""

    parts = [
        f"""WITH e AS ({_duck_vectors()}), q AS (
      SELECT vec_id, v,
             list_transform(v, x -> floor(x * {grid} + 0.5)) AS vq
      FROM e
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             vq AS c
      FROM (SELECT vec_id, vq FROM q ORDER BY vec_id LIMIT {SEMDEDUP_K})
    )"""
    ]
    cent = "c0"
    for it in range(1, SEMDEDUP_ITERS + 1):
        parts.append(assign(f"a{it}", cent, "vec_id, vq, cluster"))
        parts.append(update(f"c{it}", f"a{it}"))
        cent = f"c{it}"
    parts.append(assign("af", cent, "vec_id, cluster"))
    parts.append(
        """n AS (
      SELECT q.vec_id, af.cluster, q.v,
             sqrt(list_dot_product(q.v, q.v)) AS nrm
      FROM q JOIN af USING (vec_id)
    ), nn AS (
      SELECT vec_id, cluster, list_transform(v, x -> x / nrm) AS vn
      FROM n WHERE nrm > 0
    ), pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.vn, b.vn) AS cos_sim
      FROM nn a JOIN nn b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.vn, b.vn) >= 0.3
    )"""
    )
    return ",\n    ".join(parts) + "\n    " + select_tail


register(
    "dedup_semantic",
    dedup.semdedup,
    _semdedup_sql("SELECT id1, id2, cos_sim FROM pairs"),
)

register(
    "dedup_semantic_apply",
    dedup.semdedup_apply,
    _semdedup_sql(
        """SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id2 FROM pairs)"""
    ),
)

# ---------------------------------------------------------------------------
# Round-10 curation additions: per-domain caps, LM-fluency filtering, and
# DSIR importance weighting — the three selection passes between quality
# filtering and mixture sampling in a pretraining ingest.
# ---------------------------------------------------------------------------

register(
    "domain_cap",
    corpus.domain_cap,
    """
    SELECT source, doc_id, n_chars, rk FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
)

register(
    "unigram_logprob",
    text_analysis.unigram_logprob,
    f"""
    WITH wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt
      FROM (
        SELECT doc_id,
               unnest({_DUCK_TOKENS}) AS word
        FROM documents
      ) GROUP BY 1, 2
    ), corpus_model AS (
      SELECT word, SUM(cnt) AS ccnt FROM wc GROUP BY 1
    ), tot AS (
      SELECT SUM(ccnt) AS n_corpus, COUNT(*) AS v_corpus
      FROM corpus_model
    ), terms AS (
      SELECT w.doc_id, w.word, w.cnt,
             CAST(w.cnt AS DOUBLE)
             * ln(CAST(c.ccnt + 1 AS DOUBLE)
                  / CAST(t.n_corpus + t.v_corpus AS DOUBLE)) AS term
      FROM wc w JOIN corpus_model c ON w.word = c.word CROSS JOIN tot t
    ), per_doc AS (
      SELECT doc_id, SUM(cnt) AS n_tokens,
             list(term ORDER BY word) AS ts
      FROM terms GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           FLOOR(list_reduce(list_prepend(0.0, ts), (a, t) -> a + t)
                 / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS logprob_per_token
    FROM per_doc
    """,
)

# Multinomial naive-Bayes language classifier (train + score + argmax
# + confusion matrix in one plan). NULL lang rides the '<null>'
# sentinel class so model joins never carry SQL-NULL keys; per-(doc,
# class) scores fold cnt*ln p in word order from 0.0 (the
# unigram_logprob ln-parity discipline), prior added once at the end.
register(
    "naive_bayes_lang",
    text_analysis.naive_bayes_lang,
    f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, COALESCE(lang, '<null>') AS actual_cls FROM documents
    ), dwc AS MATERIALIZED (
      SELECT doc_id, cls, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc_id, COALESCE(lang, '<null>') AS cls,
               unnest({_DUCK_TOKENS}) AS word
        FROM documents
      ) GROUP BY 1, 2, 3
    ), cw AS (
      SELECT cls, word, SUM(cnt) AS c FROM dwc GROUP BY 1, 2
    ), ntok AS (
      SELECT cls, SUM(cnt) AS ntok FROM dwc GROUP BY 1
    ), vocab AS (SELECT DISTINCT word FROM dwc),
    vsize AS (SELECT COUNT(*) AS v FROM vocab),
    classes AS (SELECT DISTINCT actual_cls AS cls FROM base),
    prior AS (
      SELECT actual_cls AS cls, COUNT(*) AS nl FROM base GROUP BY 1
    ), ndocs AS (SELECT COUNT(*) AS n FROM base),
    grid AS MATERIALIZED (
      SELECT cl.cls, w.word,
             FLOOR(ln(CAST(COALESCE(cw.c, 0) + 1 AS DOUBLE)
                      / CAST(COALESCE(nt.ntok, 0) + vs.v AS DOUBLE))
                   * 1e6 + 0.5) / 1e6 AS lnp
      FROM classes cl
      CROSS JOIN vocab w
      LEFT JOIN cw ON cw.cls = cl.cls AND cw.word = w.word
      LEFT JOIN ntok nt ON nt.cls = cl.cls
      CROSS JOIN vsize vs
    ), s_words AS (
      SELECT d.doc_id, g.cls AS cand_cls,
             list(CAST(d.cnt AS DOUBLE) * g.lnp ORDER BY d.word) AS ts
      FROM dwc d JOIN grid g ON d.word = g.word
      GROUP BY 1, 2
    ), pri AS (
      SELECT p.cls AS cand_cls,
             FLOOR(ln(CAST(p.nl AS DOUBLE) / CAST(nd.n AS DOUBLE))
                   * 1e6 + 0.5) / 1e6 AS lnprior
      FROM prior p CROSS JOIN ndocs nd
    ), scored AS (
      SELECT b.doc_id, b.actual_cls, pr.cand_cls,
             pr.lnprior
             + COALESCE(list_reduce(list_prepend(0.0, sw.ts),
                                    (a, t) -> a + t), 0.0) AS score
      FROM base b
      CROSS JOIN pri pr
      LEFT JOIN s_words sw
        ON sw.doc_id = b.doc_id AND sw.cand_cls = pr.cand_cls
    ), pred AS (
      SELECT doc_id, actual_cls, cand_cls,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand_cls ASC) AS rn
      FROM scored
    )
    SELECT actual_cls, cand_cls AS predicted_cls,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)

register(
    "dsir_sample",
    corpus.dsir_sample,
    f"""
    WITH words AS (
      SELECT doc_id, lang,
             {_DUCK_TOKENS} AS w
      FROM documents WHERE text IS NOT NULL
    ), bg AS (
      SELECT doc_id, lang,
             CAST((16 * (strpos('0123456789abcdef',
                          substr(md5({_duck_ngram(2)}), 1, 1))
                         - 1)
                   + (strpos('0123456789abcdef',
                          substr(md5({_duck_ngram(2)}), 2, 1))
                      - 1)) % 64 AS BIGINT) AS bucket
      FROM words,
           (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i)
    ), dwc AS (
      SELECT doc_id, bucket, COUNT(*) AS cnt FROM bg GROUP BY 1, 2
    ), bc AS (
      SELECT bucket, COUNT(*) AS r_cnt,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt
      FROM bg GROUP BY 1
    ), tot AS (
      SELECT SUM(r_cnt) AS r_tot, SUM(t_cnt) AS t_tot FROM bc
    ), lr AS (
      SELECT bucket,
             ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(t_tot + 64 AS DOUBLE))
             - ln(CAST(r_cnt + 1 AS DOUBLE) / CAST(r_tot + 64 AS DOUBLE))
               AS lr
      FROM bc CROSS JOIN tot
    ), per_doc AS (
      SELECT d.doc_id, SUM(d.cnt) AS n_grams,
             list(CAST(d.cnt AS DOUBLE) * l.lr ORDER BY d.bucket) AS ts
      FROM dwc d JOIN lr l ON d.bucket = l.bucket GROUP BY 1
    ), scored AS (
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
             FLOOR(list_reduce(list_prepend(0.0, ts), (a, t) -> a + t)
                   / CAST(n_grams AS DOUBLE) * 1e6 + 0.5) / 1e6 AS weight
      FROM per_doc
    )
    SELECT doc_id, n_grams, weight,
           CAST(weight > 0 AS BIGINT) AS keep
    FROM scored
    """,
)

register(
    "vocab_encode",
    text_analysis.vocab_encode,
    f"""
    WITH {_DUCK_WORDS}, tok AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS word
      FROM words,
           (SELECT unnest(generate_series(1, len(w))) AS i)
    ), vocab AS (
      SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS wid
      FROM tok GROUP BY word
    ), ids AS (
      SELECT t.doc_id, t.pos, v.wid FROM tok t JOIN vocab v
        ON t.word = v.word
    ), packed AS (
      SELECT doc_id, CAST(FLOOR(pos / 32.0) AS BIGINT) AS seq_idx,
             list(wid ORDER BY pos) AS ids
      FROM ids GROUP BY 1, 2
    )
    SELECT doc_id, seq_idx, array_to_string(ids, ',') AS ids_csv,
           CAST(len(ids) AS BIGINT) AS n_ids
    FROM packed
    """,
)


def _kcore_unrolled_sql(rounds: int, k: int) -> str:
    """Chained-CTE unroll of the fixed-round k-core peel (the
    _pagerank_unrolled_sql pattern: a loop the engine can't recurse
    with an aggregate per round is unrolled bit-for-bit).

    Every chained CTE is MATERIALIZED: e{r} and k{r} are each
    referenced twice, so inlining re-evaluates the whole upstream
    chain per reference — 2^rounds copies of the 31M-row (sf1) edge
    self-join, which spilled DuckDB to a full disk at sf1."""
    parts = [f"e0 AS MATERIALIZED ({_DUCK_CO_SUPPLIER_EDGES})"]
    for r in range(rounds):
        parts.append(
            f"""d{r + 1} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg
      FROM (SELECT a AS node FROM e{r}
            UNION ALL SELECT b AS node FROM e{r})
      GROUP BY node
    )"""
        )
        parts.append(
            f"""k{r + 1} AS MATERIALIZED (SELECT node FROM d{r + 1} WHERE deg >= {k})"""
        )
        parts.append(
            f"""e{r + 1} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r} e
      JOIN k{r + 1} x ON e.a = x.node
      JOIN k{r + 1} y ON e.b = y.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node, COUNT(*) AS core_degree
    FROM (SELECT a AS node FROM e{rounds}
          UNION ALL SELECT b AS node FROM e{rounds})
    GROUP BY node"""
    )


register("kcore", graph.kcore, _kcore_unrolled_sql(graph.KCORE_ROUNDS, graph.KCORE_K))


def _bfs_unrolled_sql(rounds: int, source: int) -> str:
    """Chained-CTE unroll of the fixed-round frontier BFS (the
    _kcore_unrolled_sql pattern). Each round joins ONLY the frontier
    (nodes whose hop equals the previous round number) to the
    bidirectional edge list, then min-merges — the exact Spark body."""
    parts = [
        f"e0 AS MATERIALIZED ({_DUCK_CO_SUPPLIER_EDGES})",
        _DUCK_BIDIR,
        f"""d0 AS (SELECT CAST({source} AS BIGINT) AS node,
                      CAST(0 AS BIGINT) AS hop)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""n{r} AS (
      SELECT e.dst AS node, CAST({r} AS BIGINT) AS hop
      FROM d{r - 1} d JOIN bidir e ON d.node = e.src
      WHERE d.hop = {r - 1}
    )"""
        )
        parts.append(
            f"""d{r} AS MATERIALIZED (
      SELECT node, MIN(hop) AS hop
      FROM (SELECT * FROM d{r - 1} UNION ALL SELECT * FROM n{r})
      GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, hop FROM d{rounds}"
    )


# Fixed-round Pregel BFS over the co-supplier graph; literal source so
# the oracle is a pure unroll and the empty twin still emits the seed.
register("bfs_hops", graph.bfs_hops, _bfs_unrolled_sql(graph.BFS_ROUNDS, graph.BFS_SOURCE))


def _label_prop_unrolled_sql(rounds: int) -> str:
    """Chained-CTE unroll of synchronous min-label propagation (the
    _bfs_unrolled_sql pattern: join labels to the bidirectional edges,
    min-merge with the previous labels, per fixed round)."""
    parts = [
        f"e0 AS MATERIALIZED ({_DUCK_CO_SUPPLIER_EDGES})",
        _DUCK_BIDIR,
        """l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM bidir
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""l{r} AS MATERIALIZED (
      SELECT node, MIN(label) AS label
      FROM (SELECT * FROM l{r - 1}
            UNION ALL
            SELECT e.dst AS node, d.label
            FROM l{r - 1} d JOIN bidir e ON d.node = e.src)
      GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, label FROM l{rounds}"
    )


# Deterministic (min-label) label propagation — the community-seed
# primitive next to components (dedup_clusters), cores (kcore), and
# ranks (pagerank); random-tie LPA is not oracle-pinnable, min-label is.
register("label_prop", graph.label_prop, _label_prop_unrolled_sql(graph.LABEL_PROP_ROUNDS))


# Span-level exact-substring dedup (Lee et al. 2022): duplicated word
# 10-grams (>=2 occurrences corpus-wide, within-doc repeats included)
# mark covered token positions; survivors re-join. The oracle mirrors
# the md5-digest join so even a hash collision agrees across engines.
register(
    "substring_dedup",
    corpus.substring_dedup,
    f"""
    WITH {_DUCK_WORDS}, base AS (
      SELECT doc_id, w, len(w) AS n_toks FROM words
    ), starts AS (
      SELECT doc_id, n_toks, w,
             unnest(generate_series(1, greatest(n_toks - 9, 1))) AS start
      FROM base
    ), grams AS (
      SELECT doc_id, n_toks, start,
             md5({_duck_ngram(10, "w", "start")}) AS digest
      FROM starts
    ), dup AS (
      SELECT digest FROM grams GROUP BY digest HAVING COUNT(*) >= 2
    ), covered AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT g.doc_id,
               unnest(generate_series(
                 g.start, least(g.start + 9, g.n_toks))) AS pos
        FROM grams g JOIN dup d USING (digest)
      )
    ), toks AS (
      SELECT doc_id, w, unnest(generate_series(1, n_toks)) AS pos
      FROM base
    ), tok2 AS (
      SELECT doc_id, pos, w[pos] AS tok FROM toks
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok2 t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.doc_id IS NULL
    ), kept_agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_toks AS BIGINT) AS n_tokens,
           CAST(b.n_toks - COALESCE(k.n_kept, 0) AS BIGINT)
             AS n_dup_tokens,
           CASE WHEN b.n_toks > 0
                THEN CAST(b.n_toks - COALESCE(k.n_kept, 0) AS DOUBLE)
                     / CAST(b.n_toks AS DOUBLE)
                ELSE 0.0 END AS dup_frac,
           COALESCE(k.clean_text, '') AS clean_text
    FROM base b LEFT JOIN kept_agg k USING (doc_id)
    """,
)

# Winnowing (MOSS) fingerprints: per-window forward-frame MIN over the
# packed (hash, rightmost-pos) long, full windows only, DISTINCT
# winners — identical window semantics in both engines.
register(
    "winnow_fingerprint",
    corpus.winnow_fingerprint,
    f"""
    WITH words AS (
      SELECT doc_id,
             {_DUCK_TOKENS} AS w
      FROM documents WHERE text IS NOT NULL
    ), starts AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w) - 3, 1))) AS pos
      FROM words
    ), hashed AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(
               md5({_duck_ngram(4, "w", "pos")}), 1, 8) AS BIGINT)
               AS h
      FROM starts
    ), v AS (
      SELECT doc_id, pos,
             h * 1048576 + (1048575 - pos) AS v,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM hashed
    ), wm AS (
      SELECT doc_id, pos, n_grams,
             MIN(v) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
               AS wmin
      FROM v
    ), sel AS (
      SELECT DISTINCT doc_id, wmin
      FROM wm WHERE pos <= greatest(n_grams - 4, 1)
    )
    SELECT doc_id,
           CAST(1048575 - (wmin % 1048576) AS BIGINT) AS pos,
           CAST(wmin // 1048576 AS BIGINT) AS fp
    FROM sel
    """,
)


# ---------------------------------------------------------------------------
# Statistical profiling (feature statistics for mixture/leakage analysis)
# ---------------------------------------------------------------------------

from bigdata1_spark.operators import stats as stats_ops  # noqa: E402

# Pearson correlation matrix in ONE aggregate pass: exact scaled-integer
# sufficient statistics (HUGEINT sums in DuckDB, DECIMAL(38,0) in Spark),
# one fixed-order IEEE chain per pair, floor-rounded 1e-6. r is invariant
# under the fixed-point scaling, so scaled == original correlation.
register(
    "corr_matrix",
    stats_ops.corr_matrix,
    """
    WITH complete AS (
      SELECT CAST(ROUND(l_quantity * 1) AS BIGINT) AS quantity,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS discount,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL AND l_tax IS NOT NULL
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(quantity) AS s_q, SUM(price) AS s_p,
             SUM(discount) AS s_d, SUM(tax) AS s_t,
             SUM(quantity * price) AS s_qp,
             SUM(quantity * discount) AS s_qd,
             SUM(quantity * tax) AS s_qt,
             SUM(price * discount) AS s_pd,
             SUM(price * tax) AS s_pt,
             SUM(discount * tax) AS s_dt,
             SUM(quantity * quantity) AS s_qq,
             SUM(price * price) AS s_pp,
             SUM(discount * discount) AS s_dd,
             SUM(tax * tax) AS s_tt
      FROM complete
    ), pairs AS (
      SELECT 'quantity' AS col_x, 'price' AS col_y, n,
             CAST(s_q AS DOUBLE) AS sx, CAST(s_p AS DOUBLE) AS sy,
             CAST(s_qp AS DOUBLE) AS sxy,
             CAST(s_qq AS DOUBLE) AS sxx, CAST(s_pp AS DOUBLE) AS syy
      FROM m
      UNION ALL SELECT 'quantity', 'discount', n,
             CAST(s_q AS DOUBLE), CAST(s_d AS DOUBLE), CAST(s_qd AS DOUBLE),
             CAST(s_qq AS DOUBLE), CAST(s_dd AS DOUBLE) FROM m
      UNION ALL SELECT 'quantity', 'tax', n,
             CAST(s_q AS DOUBLE), CAST(s_t AS DOUBLE), CAST(s_qt AS DOUBLE),
             CAST(s_qq AS DOUBLE), CAST(s_tt AS DOUBLE) FROM m
      UNION ALL SELECT 'price', 'discount', n,
             CAST(s_p AS DOUBLE), CAST(s_d AS DOUBLE), CAST(s_pd AS DOUBLE),
             CAST(s_pp AS DOUBLE), CAST(s_dd AS DOUBLE) FROM m
      UNION ALL SELECT 'price', 'tax', n,
             CAST(s_p AS DOUBLE), CAST(s_t AS DOUBLE), CAST(s_pt AS DOUBLE),
             CAST(s_pp AS DOUBLE), CAST(s_tt AS DOUBLE) FROM m
      UNION ALL SELECT 'discount', 'tax', n,
             CAST(s_d AS DOUBLE), CAST(s_t AS DOUBLE), CAST(s_dt AS DOUBLE),
             CAST(s_dd AS DOUBLE), CAST(s_tt AS DOUBLE) FROM m
    )
    SELECT col_x, col_y, n AS n_rows,
           CASE WHEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n AS DOUBLE) * syy - sy * sy)) > 0
                THEN FLOOR(((CAST(n AS DOUBLE) * sxy - sx * sy)
                            / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                                   * (CAST(n AS DOUBLE) * syy - sy * sy)))
                           * 1e6 + 0.5) / 1e6
           END AS corr
    FROM pairs
    """,
)

# Spearman rank correlation from ONE joint contingency table: doubled
# average ranks dr(v) = 2*cum(v) - freq(v) + 1 are derived from the
# constant-bounded marginals (never a global row sort), sufficient
# statistics fold in HUGEINT (DuckDB) / DECIMAL (Spark), final Pearson
# chain identical op order, floor-rounded 1e-6.
register(
    "spearman_corr",
    stats_ops.spearman_corr,
    """
    WITH complete AS (
      SELECT CAST(ROUND(l_quantity * 1) AS BIGINT) AS quantity,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS discount,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_tax IS NOT NULL
    ), cells AS (
      SELECT quantity, discount, tax, CAST(COUNT(*) AS BIGINT) AS f
      FROM complete GROUP BY 1, 2, 3
    ), rq AS (
      SELECT quantity,
             2 * SUM(mf) OVER (ORDER BY quantity
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - mf + 1 AS dr_q
      FROM (SELECT quantity, SUM(f) AS mf FROM cells GROUP BY 1)
    ), rd AS (
      SELECT discount,
             2 * SUM(mf) OVER (ORDER BY discount
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - mf + 1 AS dr_d
      FROM (SELECT discount, SUM(f) AS mf FROM cells GROUP BY 1)
    ), rt AS (
      SELECT tax,
             2 * SUM(mf) OVER (ORDER BY tax
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - mf + 1 AS dr_t
      FROM (SELECT tax, SUM(f) AS mf FROM cells GROUP BY 1)
    ), j AS (
      SELECT CAST(c.f AS HUGEINT) AS f,
             CAST(rq.dr_q AS HUGEINT) AS dq,
             CAST(rd.dr_d AS HUGEINT) AS dd,
             CAST(rt.dr_t AS HUGEINT) AS dt
      FROM cells c
      JOIN rq USING (quantity)
      JOIN rd USING (discount)
      JOIN rt USING (tax)
    ), m AS (
      SELECT SUM(f) AS n,
             SUM(f * dq) AS s_q, SUM(f * dd) AS s_d, SUM(f * dt) AS s_t,
             SUM(f * dq * dq) AS s_qq, SUM(f * dd * dd) AS s_dd,
             SUM(f * dt * dt) AS s_tt,
             SUM(f * dq * dd) AS s_qd, SUM(f * dq * dt) AS s_qt,
             SUM(f * dd * dt) AS s_dt
      FROM j
    ), pairs AS (
      SELECT 'quantity' AS col_x, 'discount' AS col_y, n,
             CAST(s_q AS DOUBLE) AS sx, CAST(s_d AS DOUBLE) AS sy,
             CAST(s_qd AS DOUBLE) AS sxy,
             CAST(s_qq AS DOUBLE) AS sxx, CAST(s_dd AS DOUBLE) AS syy
      FROM m
      UNION ALL SELECT 'quantity', 'tax', n,
             CAST(s_q AS DOUBLE), CAST(s_t AS DOUBLE), CAST(s_qt AS DOUBLE),
             CAST(s_qq AS DOUBLE), CAST(s_tt AS DOUBLE) FROM m
      UNION ALL SELECT 'discount', 'tax', n,
             CAST(s_d AS DOUBLE), CAST(s_t AS DOUBLE), CAST(s_dt AS DOUBLE),
             CAST(s_dd AS DOUBLE), CAST(s_tt AS DOUBLE) FROM m
    )
    SELECT col_x, col_y, CAST(n AS BIGINT) AS n_rows,
           CASE WHEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n AS DOUBLE) * syy - sy * sy)) > 0
                THEN FLOOR(((CAST(n AS DOUBLE) * sxy - sx * sy)
                            / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                                   * (CAST(n AS DOUBLE) * syy - sy * sy)))
                           * 1e6 + 0.5) / 1e6
           END AS rho
    FROM pairs
    """,
)

# Mann-Whitney U from the same doubled-rank contingency machinery as
# spearman_corr: exact integer rank sums, HUGEINT tie term (t^3
# overflows BIGINT past ~2M rows per value), one fixed-order IEEE
# chain for the tie-corrected z, floor-rounded 1e-6.
register(
    "mann_whitney",
    stats_ops.mann_whitney,
    """
    WITH rows_f AS (
      SELECT l_returnflag AS grp, CAST(ROUND(l_quantity) AS BIGINT) AS qv
      FROM lineitem
      WHERE l_returnflag IN ('R', 'A') AND l_quantity IS NOT NULL
    ), cells AS (
      SELECT grp, qv, CAST(COUNT(*) AS BIGINT) AS f
      FROM rows_f GROUP BY 1, 2
    ), marg AS (
      SELECT qv, SUM(f) AS mf FROM cells GROUP BY 1
    ), dr AS (
      SELECT qv,
             2 * SUM(mf) OVER (ORDER BY qv
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - mf + 1 AS dr,
             CAST(mf AS HUGEINT) * CAST(mf AS HUGEINT)
               * CAST(mf AS HUGEINT) - CAST(mf AS HUGEINT) AS t3t
      FROM marg
    ), per AS (
      SELECT grp, SUM(f) AS n,
             SUM(CAST(f AS HUGEINT) * CAST(dr AS HUGEINT)) AS two_r
      FROM cells JOIN dr USING (qv) GROUP BY 1
    ), ties AS (SELECT SUM(t3t) AS ties FROM dr),
    wide AS (
      SELECT SUM(CASE WHEN grp = 'R' THEN n END) AS n_a,
             SUM(CASE WHEN grp = 'A' THEN n END) AS n_b,
             SUM(CASE WHEN grp = 'R' THEN two_r END) AS two_r_a,
             SUM(CASE WHEN grp = 'A' THEN two_r END) AS two_r_b
      FROM per
    ), calc AS (
      SELECT n_a, n_b,
             two_r_a - n_a * (n_a + 1) AS u2_a,
             two_r_b - n_b * (n_b + 1) AS u2_b,
             CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE)
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) AS num,
             2.0 * sqrt(
               (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
               * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                  - CAST(ties AS DOUBLE)
                    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                          - 1.0)))) AS den
      FROM wide, ties
    )
    SELECT 'R' AS grp_a, 'A' AS grp_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(u2_a AS BIGINT) AS u2_a, CAST(u2_b AS BIGINT) AS u2_b,
           CASE WHEN den > 0
                THEN FLOOR(num / den * 1e6 + 0.5) / 1e6 END AS z
    FROM calc
    """,
)

# lang x source contingency shared by mutual_info / chi_square_assoc:
# one documents scan, marginals from windows over the tiny cell table
# (never a rescan — the dsir_sample multi-consumer-lineage lesson).
_CONTINGENCY_SQL = """
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM documents GROUP BY 1, 2
    ), marg AS (
      SELECT lang, source, n_xy,
             CAST(SUM(n_xy) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
             CAST(SUM(n_xy) OVER (PARTITION BY source) AS BIGINT)
               AS n_source,
             CAST(SUM(n_xy) OVER () AS BIGINT) AS n_total
      FROM cells
    )
"""

register(
    "mutual_info",
    stats_ops.mutual_info,
    _CONTINGENCY_SQL
    + """
    SELECT lang, source, n_xy, n_lang, n_source, n_total,
           FLOOR(((CAST(n_xy AS DOUBLE) / CAST(n_total AS DOUBLE))
                  * ln((CAST(n_xy AS DOUBLE) * CAST(n_total AS DOUBLE))
                       / (CAST(n_lang AS DOUBLE)
                          * CAST(n_source AS DOUBLE))))
                 * 1e6 + 0.5) / 1e6 AS mi_term
    FROM marg
    """,
)

register(
    "chi_square_assoc",
    stats_ops.chi_square_assoc,
    _CONTINGENCY_SQL
    + """
    SELECT lang, source, n_xy,
           FLOOR((CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                  / CAST(n_total AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS expected,
           FLOOR(((CAST(n_xy AS DOUBLE)
                   - (CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                      / CAST(n_total AS DOUBLE)))
                  * (CAST(n_xy AS DOUBLE)
                     - (CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                        / CAST(n_total AS DOUBLE)))
                  / (CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                     / CAST(n_total AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS chi2_term
    FROM marg
    """,
)

# ---------------------------------------------------------------------------
# Round-13 continuation: regression / hypothesis-test / drift completions.
# All six follow the contingency/sufficient-statistics discipline: exact
# HUGEINT/DECIMAL accumulation, one fixed-order double chain per output
# row (op order mirrored verbatim from the Spark expressions), floor-
# rounded 1e-6.
# ---------------------------------------------------------------------------

# Per-type OLS of daily event volume from six exact sufficient
# statistics; day index = CAST(ts AS DATE) - epoch (integer in both
# engines); NULL ts excluded (no day coordinate), NULL type is a series.
register(
    "linreg_trend",
    stats_ops.linreg_trend,
    """
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      FROM daily GROUP BY 1
    ), d AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      FROM s
    )
    SELECT event_type, n AS n_days,
           CASE WHEN nd * sxxd - sxd * sxd > 0
                THEN FLOOR((nd * sxyd - sxd * syd)
                           / (nd * sxxd - sxd * sxd) * 1e6 + 0.5) / 1e6
           END AS slope,
           CASE WHEN nd * sxxd - sxd * sxd > 0
                THEN FLOOR((syd - (nd * sxyd - sxd * syd)
                                  / (nd * sxxd - sxd * sxd) * sxd) / nd
                           * 1e6 + 0.5) / 1e6
           END AS intercept,
           CASE WHEN nd * sxxd - sxd * sxd > 0
                 AND nd * syyd - syd * syd > 0
                THEN FLOOR((nd * sxyd - sxd * syd)
                           * (nd * sxyd - sxd * syd)
                           / ((nd * sxxd - sxd * sxd)
                              * (nd * syyd - syd * syd))
                           * 1e6 + 0.5) / 1e6
           END AS r2
    FROM d
    """,
)

# One-way ANOVA over the three LITERAL return flags, pivoted in one
# global aggregate (no groupBy); per-group terms written in fixed
# A, N, R order so both engines fold the double chain identically.
register(
    "anova_f",
    stats_ops.anova_f,
    """
    WITH rows_f AS (
      SELECT l_returnflag AS g, CAST(ROUND(l_quantity) AS BIGINT) AS qv
      FROM lineitem
      WHERE l_returnflag IN ('A', 'N', 'R') AND l_quantity IS NOT NULL
    ), wide AS (
      SELECT
        SUM(CASE WHEN g = 'A' THEN 1 END) AS n_a,
        SUM(CASE WHEN g = 'A' THEN CAST(qv AS HUGEINT) END) AS s_a,
        SUM(CASE WHEN g = 'A' THEN CAST(qv AS HUGEINT)
                                   * CAST(qv AS HUGEINT) END) AS ss_a,
        SUM(CASE WHEN g = 'N' THEN 1 END) AS n_n,
        SUM(CASE WHEN g = 'N' THEN CAST(qv AS HUGEINT) END) AS s_n,
        SUM(CASE WHEN g = 'N' THEN CAST(qv AS HUGEINT)
                                   * CAST(qv AS HUGEINT) END) AS ss_n,
        SUM(CASE WHEN g = 'R' THEN 1 END) AS n_r,
        SUM(CASE WHEN g = 'R' THEN CAST(qv AS HUGEINT) END) AS s_r,
        SUM(CASE WHEN g = 'R' THEN CAST(qv AS HUGEINT)
                                   * CAST(qv AS HUGEINT) END) AS ss_r
      FROM rows_f
    ), d AS (
      SELECT n_a, n_n, n_r,
             CAST(n_a AS DOUBLE) AS na, CAST(n_n AS DOUBLE) AS nn,
             CAST(n_r AS DOUBLE) AS nr,
             CAST(s_a AS DOUBLE) AS sa, CAST(s_n AS DOUBLE) AS sn,
             CAST(s_r AS DOUBLE) AS sr,
             CAST(ss_a AS DOUBLE) AS qa, CAST(ss_n AS DOUBLE) AS qn,
             CAST(ss_r AS DOUBLE) AS qr
      FROM wide
    ), c AS (
      SELECT n_a, n_n, n_r, na, nn, nr, qa, qn, qr,
             na + nn + nr AS big_n, sa + sn + sr AS big_s,
             sa * sa / na + sn * sn / nn + sr * sr / nr AS a_term,
             n_a IS NOT NULL AND n_n IS NOT NULL AND n_r IS NOT NULL
               AS ok
      FROM d
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_n AS BIGINT) AS n_n,
           CAST(n_r AS BIGINT) AS n_r,
           CASE WHEN ok THEN FLOOR((a_term - big_s * big_s / big_n)
                                   * 1e6 + 0.5) / 1e6 END AS ssb,
           CASE WHEN ok THEN FLOOR(((qa + qn + qr) - a_term)
                                   * 1e6 + 0.5) / 1e6 END AS ssw,
           CASE WHEN ok AND (qa + qn + qr) - a_term > 0
                THEN FLOOR(((a_term - big_s * big_s / big_n) / 2.0)
                           / (((qa + qn + qr) - a_term)
                              / (big_n - 3.0)) * 1e6 + 0.5) / 1e6
           END AS f_stat
    FROM c
    """,
)

# Kendall tau-b from the constant-bounded joint contingency table: one
# cell x cell self-join (domain-bounded, never row-bounded) for the
# concordant/discordant sums, doubled tie terms, single double chain.
register(
    "kendall_tau",
    stats_ops.kendall_tau,
    """
    WITH cells AS (
      SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      GROUP BY 1, 2
    ), cd AS (
      SELECT SUM(CASE WHEN b.y < a.y
                      THEN CAST(a.f AS HUGEINT) * CAST(b.f AS HUGEINT)
                 END) AS nc,
             SUM(CASE WHEN b.y > a.y
                      THEN CAST(a.f AS HUGEINT) * CAST(b.f AS HUGEINT)
                 END) AS nd
      FROM cells a JOIN cells b ON b.x < a.x AND b.y <> a.y
    ), nt AS (
      SELECT SUM(CAST(f AS HUGEINT)) AS n FROM cells
    ), tx AS (
      SELECT SUM(t * (t - 1)) AS tx2
      FROM (SELECT SUM(CAST(f AS HUGEINT)) AS t FROM cells GROUP BY x)
    ), ty AS (
      SELECT SUM(t * (t - 1)) AS ty2
      FROM (SELECT SUM(CAST(f AS HUGEINT)) AS t FROM cells GROUP BY y)
    ), c AS (
      SELECT nc, nd, n,
             CAST(n * (n - 1) - tx2 AS DOUBLE) AS d1,
             CAST(n * (n - 1) - ty2 AS DOUBLE) AS d2
      FROM cd, nt, tx, ty
    )
    SELECT 'quantity' AS col_x, 'discount' AS col_y,
           CAST(n AS BIGINT) AS n_rows,
           CAST(COALESCE(nc, 0) AS BIGINT) AS nc,
           CAST(COALESCE(nd, 0) AS BIGINT) AS nd,
           CASE WHEN d1 > 0 AND d2 > 0
                THEN FLOOR(2.0 * (CAST(COALESCE(nc, 0) AS DOUBLE)
                                  - CAST(COALESCE(nd, 0) AS DOUBLE))
                           / sqrt(d1 * d2) * 1e6 + 0.5) / 1e6
           END AS tau
    FROM c
    """,
)

# Two-sample KS: exact cross-multiplied ECDF gap (integer DECIMAL) maxed
# over the value-domain cell table; division happens once at the end.
register(
    "ks_test",
    stats_ops.ks_test,
    """
    WITH rows_f AS (
      SELECT l_returnflag AS grp, CAST(ROUND(l_quantity) AS BIGINT) AS qv
      FROM lineitem
      WHERE l_returnflag IN ('R', 'A') AND l_quantity IS NOT NULL
    ), piv AS (
      SELECT qv,
             SUM(CASE WHEN grp = 'R' THEN 1 ELSE 0 END) AS fa,
             SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS fb
      FROM rows_f GROUP BY 1
    ), cum AS (
      SELECT CAST(SUM(fa) OVER w AS HUGEINT) AS ca,
             CAST(SUM(fb) OVER w AS HUGEINT) AS cb,
             CAST(SUM(fa) OVER () AS HUGEINT) AS n_a,
             CAST(SUM(fb) OVER () AS HUGEINT) AS n_b
      FROM piv
      WINDOW w AS (ORDER BY qv
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), top AS (
      SELECT MAX(ABS(ca * n_b - cb * n_a)) AS d_num,
             MAX(n_a) AS n_a, MAX(n_b) AS n_b
      FROM cum
    )
    SELECT 'R' AS grp_a, 'A' AS grp_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN FLOOR(CAST(d_num AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS d_stat,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN FLOOR(CAST(d_num AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                           * sqrt(CAST(n_a AS DOUBLE)
                                  * CAST(n_b AS DOUBLE)
                                  / (CAST(n_a AS DOUBLE)
                                     + CAST(n_b AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6 END AS ks_stat
    FROM top
    """,
)

# Daily-volume autocorrelation at lags 1..7, paired by DAY ARITHMETIC
# (calendar gaps produce no pair); per-lag Pearson over exact sums.
register(
    "acf_lags",
    stats_ops.acf_lags,
    """
    WITH series AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), lags AS (
      SELECT CAST(r.range AS INTEGER) AS lag FROM range(1, 8) r
    ), pairs AS (
      SELECT l.lag, a.y AS y0, b.y AS y1
      FROM series a CROSS JOIN lags l
      JOIN series b ON b.day = a.day + l.lag
    ), s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(y0 AS HUGEINT)) AS sx,
             SUM(CAST(y1 AS HUGEINT)) AS sy,
             SUM(CAST(y0 AS HUGEINT) * CAST(y1 AS HUGEINT)) AS sxy,
             SUM(CAST(y0 AS HUGEINT) * CAST(y0 AS HUGEINT)) AS sxx,
             SUM(CAST(y1 AS HUGEINT) * CAST(y1 AS HUGEINT)) AS syy
      FROM pairs GROUP BY 1
    ), d AS (
      SELECT lag, m, CAST(m AS DOUBLE) AS md,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(syy AS DOUBLE) AS syyd
      FROM s
    )
    SELECT lag, m AS n_pairs,
           CASE WHEN m > 1
                 AND sqrt((md * sxxd - sxd * sxd)
                          * (md * syyd - syd * syd)) > 0
                THEN FLOOR((md * sxyd - sxd * syd)
                           / sqrt((md * sxxd - sxd * sxd)
                                  * (md * syyd - syd * syd))
                           * 1e6 + 0.5) / 1e6
           END AS acf
    FROM d
    """,
)

# Benford first-digit profile: digit extracted from the exact integer
# cents STRING (no float logs near power-of-10 boundaries); the nine
# expected shares are the same 17-digit literals as the Spark plan.
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN {lit}"
        for d, lit in stats_ops.BENFORD_EXPECTED.items()
    )
    + " END"
)

register(
    "benford_digits",
    stats_ops.benford_digits,
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
               AS digit
      FROM (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem)
      WHERE cents > 0
    ), cells AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits GROUP BY 1
    ), tot AS (
      SELECT digit, n_obs,
             CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
      FROM cells
    )
    SELECT digit, n_obs, n_total,
           FLOOR(CAST(n_total AS DOUBLE) * {_BENFORD_CASE}
                 * 1e6 + 0.5) / 1e6 AS expected_n,
           FLOOR((CAST(n_obs AS DOUBLE)
                  - CAST(n_total AS DOUBLE) * {_BENFORD_CASE})
                 * (CAST(n_obs AS DOUBLE)
                    - CAST(n_total AS DOUBLE) * {_BENFORD_CASE})
                 / (CAST(n_total AS DOUBLE) * {_BENFORD_CASE})
                 * 1e6 + 0.5) / 1e6 AS chi2_term
    FROM tot
    """,
)

# Asymmetric containment near-dup (the quote/subset case Jaccard
# misses): quadratic string-shingle oracle, both orientations, same
# shingle conventions as dedup_jaccard; the Spark side is prefix-
# filtered (probe side only) with a dyadic t=0.75 so the prefix-length
# arithmetic is FP-exact.
register(
    "dedup_containment",
    dedup.dedup_containment,
    f"""
    WITH {_duck_shingle_overlap("ida", "idb")}, both_dir AS (
      SELECT ida AS id1, idb AS id2, c FROM common
      UNION ALL
      SELECT idb AS id1, ida AS id2, c FROM common
    )
    SELECT id1, id2, CAST(s1.n AS BIGINT) AS n1,
           CAST(c AS BIGINT) AS n_common,
           CAST(c AS DOUBLE) / CAST(s1.n AS DOUBLE) AS containment
    FROM both_dir JOIN sizes s1 ON id1 = s1.doc_id
    WHERE CAST(c AS DOUBLE) / CAST(s1.n AS DOUBLE) >= 0.75
    """,
)

# Per-doc n-gram novelty: first-seen = MIN(doc_id) per distinct gram;
# string-level oracle cross-checks the xxhash64 gram identity (the
# dedup_jaccard convention).
register(
    "ngram_novelty",
    corpus.ngram_novelty,
    f"""
    WITH words AS (
      SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
      WHERE text IS NOT NULL
    ), {_DUCK_SHINGLE_SETS}, fs AS (
      SELECT s, MIN(doc_id) AS first_doc FROM d GROUP BY 1
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM d JOIN fs USING (s) GROUP BY 1
    """,
)

# Theil-Sen robust trend: medians picked by explicit middle-rank
# arithmetic (never an engine quantile builtin); pair slopes are one
# IEEE division each, identical op order; calendar-bounded pair set.
register(
    "theil_sen_trend",
    stats_ops.theil_sen_trend,
    """
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS et,
             (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
               / (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) AS sl
      FROM daily a
      JOIN daily b ON a.event_type IS NOT DISTINCT FROM b.event_type
                  AND a.x < b.x
    ), ranked AS (
      SELECT et, sl,
             ROW_NUMBER() OVER (PARTITION BY et ORDER BY sl) AS rn,
             COUNT(*) OVER (PARTITION BY et) AS m
      FROM pairs
    ), med AS (
      SELECT et, MAX(m) AS n_pairs,
             (SUM(CASE WHEN rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)
                       THEN sl END)
              + SUM(CASE WHEN rn = CAST(FLOOR(m / 2.0) AS BIGINT) + 1
                         THEN sl END)) / 2.0 AS med
      FROM ranked GROUP BY 1
    ), res AS (
      SELECT d.event_type AS ret,
             CAST(d.y AS DOUBLE) - med.med * CAST(d.x AS DOUBLE) AS r
      FROM daily d
      JOIN med ON d.event_type IS NOT DISTINCT FROM med.et
    ), rranked AS (
      SELECT ret, r,
             ROW_NUMBER() OVER (PARTITION BY ret ORDER BY r) AS rn,
             COUNT(*) OVER (PARTITION BY ret) AS m
      FROM res
    ), interc AS (
      SELECT ret,
             (SUM(CASE WHEN rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)
                       THEN r END)
              + SUM(CASE WHEN rn = CAST(FLOOR(m / 2.0) AS BIGINT) + 1
                         THEN r END)) / 2.0 AS imed
      FROM rranked GROUP BY 1
    ), nd AS (
      SELECT event_type AS det, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1
    )
    SELECT med.et AS event_type, nd.n_days,
           CAST(med.n_pairs AS BIGINT) AS n_pairs,
           FLOOR(med.med * 1e6 + 0.5) / 1e6 AS slope,
           FLOOR(interc.imed * 1e6 + 0.5) / 1e6 AS intercept
    FROM med
    JOIN interc ON med.et IS NOT DISTINCT FROM interc.ret
    JOIN nd ON med.et IS NOT DISTINCT FROM nd.det
    """,
)

# Trimmed mean from contingency-marginal interval clipping — exact
# integer kept-counts per value cell, no row sort, no engine quantile
# builtin; dyadic 1/16 trim so floor(n*frac) is FP-exact.
register(
    "trimmed_mean",
    stats_ops.trimmed_mean,
    """
    WITH cells AS (
      SELECT l_returnflag AS grp, CAST(ROUND(l_quantity) AS BIGINT) AS qv,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
    ), wc AS (
      SELECT grp, qv, f,
             SUM(f) OVER (PARTITION BY grp ORDER BY qv
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(f) OVER (PARTITION BY grp) AS n,
             SUM(CAST(f AS HUGEINT) * CAST(qv AS HUGEINT))
               OVER (PARTITION BY grp) AS s_all
      FROM cells
    ), kc AS (
      SELECT grp, qv, f, cum, n, s_all,
             CAST(FLOOR(n * 0.0625) AS BIGINT) AS k
      FROM wc
    ), agg AS (
      SELECT grp, MAX(n) AS n, MAX(k) AS k_trim,
             SUM(GREATEST(0, LEAST(cum, n - k)
                             - GREATEST(cum - f, k))) AS n_kept,
             MAX(s_all) AS s_all,
             SUM(CAST(GREATEST(0, LEAST(cum, n - k)
                                  - GREATEST(cum - f, k)) AS HUGEINT)
                 * CAST(qv AS HUGEINT)) AS s_kept
      FROM kc GROUP BY 1
    )
    SELECT grp, CAST(n AS BIGINT) AS n, k_trim,
           CAST(n_kept AS BIGINT) AS n_kept,
           FLOOR(CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS mean_all,
           CASE WHEN n_kept > 0
                THEN FLOOR(CAST(s_kept AS DOUBLE) / CAST(n_kept AS DOUBLE)
                           * 1e6 + 0.5) / 1e6 END AS mean_trimmed
    FROM agg
    """,
)

# Median/MAD modified-z outliers: middle-rank medians (no quantile
# builtin), Iglewicz-Hoaglin constants as identical literals, MAD = 0
# types yield NULL z.
register(
    "robust_zscore",
    stats_ops.robust_zscore,
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), r1 AS (
      SELECT event_type, CAST(y AS DOUBLE) AS yv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY yv) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM daily
    ), med AS (
      SELECT event_type AS met,
             (SUM(CASE WHEN rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)
                       THEN yv END)
              + SUM(CASE WHEN rn = CAST(FLOOR(m / 2.0) AS BIGINT) + 1
                         THEN yv END)) / 2.0 AS med
      FROM r1 GROUP BY 1
    ), dev AS (
      SELECT d.event_type, d.day, d.y, med.med,
             ABS(CAST(d.y AS DOUBLE) - med.med) AS ad
      FROM daily d
      JOIN med ON d.event_type IS NOT DISTINCT FROM med.met
    ), r2 AS (
      SELECT event_type, ad,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM dev
    ), mad AS (
      SELECT event_type AS mt,
             (SUM(CASE WHEN rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)
                       THEN ad END)
              + SUM(CASE WHEN rn = CAST(FLOOR(m / 2.0) AS BIGINT) + 1
                         THEN ad END)) / 2.0 AS mad
      FROM r2 GROUP BY 1
    )
    SELECT dev.event_type, dev.day, dev.y AS n_events,
           CASE WHEN mad.mad > 0
                THEN FLOOR(0.6745 * (CAST(dev.y AS DOUBLE) - dev.med)
                           / mad.mad * 1e6 + 0.5) / 1e6 END AS rz,
           CASE WHEN mad.mad > 0
                THEN ABS(0.6745 * (CAST(dev.y AS DOUBLE) - dev.med)
                         / mad.mad) > 3.5 END AS is_outlier
    FROM dev JOIN mad ON dev.event_type IS NOT DISTINCT FROM mad.mt
    """,
)

# Gini via the mean-absolute-difference identity over the bounded
# contingency table (cell x cell, never a sorted-cumulative row scan).
register(
    "gini_mad",
    stats_ops.gini_mad,
    """
    WITH cells AS (
      SELECT l_returnflag AS grp, CAST(ROUND(l_quantity) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
    ), num AS (
      SELECT a.grp,
             SUM(CAST(a.f AS HUGEINT) * CAST(b.f AS HUGEINT)
                 * CAST(ABS(a.v - b.v) AS HUGEINT)) AS mad_num
      FROM cells a JOIN cells b ON a.grp IS NOT DISTINCT FROM b.grp
      GROUP BY 1
    ), tot AS (
      SELECT grp, SUM(f) AS n,
             SUM(CAST(f AS HUGEINT) * CAST(v AS HUGEINT)) AS s
      FROM cells GROUP BY 1
    )
    SELECT t.grp, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_qty,
           CASE WHEN n > 0 AND s > 0
                THEN FLOOR(CAST(mad_num AS DOUBLE)
                           / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS gini
    FROM tot t JOIN num u ON t.grp IS NOT DISTINCT FROM u.grp
    """,
)

# HHI supplier-revenue concentration: exact integer-cent sums, one
# double division per nation.
register(
    "hhi_concentration",
    stats_ops.hhi_concentration,
    """
    WITH per_sup AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             SUM(CAST(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                      AS HUGEINT)) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE l.l_extendedprice IS NOT NULL
      GROUP BY 1, 2
    ), per_nat AS (
      SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             SUM(r) AS rev, SUM(r * r) AS r2
      FROM per_sup GROUP BY 1
    )
    SELECT nationkey, n_suppliers, CAST(rev AS BIGINT) AS revenue_cents,
           CASE WHEN rev > 0
                THEN FLOOR(CAST(r2 AS DOUBLE)
                           / (CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS hhi
    FROM per_nat
    """,
)

# Top-quartile revenue share per segment: windows run over the
# aggregated per-customer spend only; dyadic 1/4 keeps floor(C*0.25)
# FP-exact; (spend DESC, custkey ASC) is a total order.
register(
    "pareto_share",
    stats_ops.pareto_share,
    """
    WITH spend AS (
      SELECT o_custkey AS c_custkey,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      AS HUGEINT)) AS spend
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ), seg AS (
      SELECT c.c_mktsegment AS mktsegment, s.spend, s.c_custkey
      FROM spend s JOIN customer c USING (c_custkey)
    ), ranked AS (
      SELECT mktsegment, spend,
             ROW_NUMBER() OVER (PARTITION BY mktsegment
                                ORDER BY spend DESC, c_custkey ASC) AS rn,
             COUNT(*) OVER (PARTITION BY mktsegment) AS cnt
      FROM seg
    ), agg AS (
      SELECT mktsegment, MAX(cnt) AS n_customers,
             MAX(CAST(FLOOR(cnt * 0.25) AS BIGINT)) AS k_top,
             SUM(CASE WHEN rn <= CAST(FLOOR(cnt * 0.25) AS BIGINT)
                      THEN spend END) AS top,
             SUM(spend) AS tot
      FROM ranked GROUP BY 1
    )
    SELECT mktsegment, CAST(n_customers AS BIGINT) AS n_customers, k_top,
           CAST(COALESCE(top, 0) AS BIGINT) AS top_cents,
           CAST(tot AS BIGINT) AS total_cents,
           CASE WHEN k_top > 0
                THEN FLOOR(CAST(top AS DOUBLE) / CAST(tot AS DOUBLE)
                           * 1e6 + 0.5) / 1e6 END AS share
    FROM agg
    """,
)

# ---------------------------------------------------------------------------
# Round-14 continuation: two-sample inference / effect size / higher
# moments. Discipline unchanged: HUGEINT sufficient statistics, double
# chains mirrored token-for-token from the Spark expressions, FLOOR 1e-6.
# ---------------------------------------------------------------------------

# Pairwise Welch t-test grid: per-group (n, Σx, Σx²) over value·100,
# groups with n < 2 dropped, '<null>' sentinel type, scaled-unit chain
# (t and df are scale-invariant), se² = 0 ⇒ NULL t/df.
register(
    "welch_ttest",
    stats_ops.welch_ttest,
    """
    WITH g AS (
      SELECT COALESCE(event_type, '<null>') AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS s,
             SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS q
      FROM events WHERE value IS NOT NULL
      GROUP BY 1 HAVING COUNT(*) >= 2
    ), pairs AS (
      SELECT a.grp AS type_a, b.grp AS type_b, a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) AS s_a, CAST(a.q AS DOUBLE) AS q_a,
             CAST(b.s AS DOUBLE) AS s_b, CAST(b.q AS DOUBLE) AS q_b
      FROM g a JOIN g b ON a.grp < b.grp
    ), c AS (
      SELECT type_a, type_b, n_a, n_b,
             s_a / CAST(n_a AS DOUBLE) AS ma,
             s_b / CAST(n_b AS DOUBLE) AS mb,
             ((q_a - s_a * s_a / CAST(n_a AS DOUBLE))
              / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS sea,
             ((q_b - s_b * s_b / CAST(n_b AS DOUBLE))
              / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS seb
      FROM pairs
    )
    SELECT type_a, type_b, n_a, n_b,
           FLOOR((ma / 100.0) * 1e6 + 0.5) / 1e6 AS mean_a,
           FLOOR((mb / 100.0) * 1e6 + 0.5) / 1e6 AS mean_b,
           CASE WHEN sea + seb > 0
                THEN FLOOR(((ma - mb) / sqrt(sea + seb)) * 1e6 + 0.5) / 1e6
           END AS t_stat,
           CASE WHEN sea + seb > 0
                THEN FLOOR((((sea + seb) * (sea + seb))
                            / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
                               + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)))
                           * 1e6 + 0.5) / 1e6
           END AS welch_df
    FROM c
    """,
)

# Cramér's V: χ² folds the 1e-6-snapped per-cell terms in (lang, source)
# order from 0.0 (category-scale array); r/c count NULL as a category.
register(
    "cramers_v",
    stats_ops.cramers_v,
    _CONTINGENCY_SQL
    + """
    , terms AS (
      SELECT COALESCE(lang, '<null>') AS kl,
             COALESCE(source, '<null>') AS ks,
             n_total,
             FLOOR(((CAST(n_xy AS DOUBLE)
                     - (CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                        / CAST(n_total AS DOUBLE)))
                    * (CAST(n_xy AS DOUBLE)
                       - (CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                          / CAST(n_total AS DOUBLE)))
                    / (CAST(n_lang AS DOUBLE) * CAST(n_source AS DOUBLE)
                       / CAST(n_total AS DOUBLE)))
                   * 1e6 + 0.5) / 1e6 AS term
      FROM marg
    ), agg AS (
      SELECT CAST(COUNT(DISTINCT kl) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT ks) AS BIGINT) AS n_sources,
             CAST(COALESCE(MAX(n_total), 0) AS BIGINT) AS n_total,
             COALESCE(list_reduce(
               list_prepend(0.0, list(term ORDER BY kl, ks)),
               (a, t) -> a + t), 0.0) AS chi2
      FROM terms
    )
    SELECT n_langs, n_sources, n_total,
           FLOOR(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
           CASE WHEN n_total > 0 AND LEAST(n_langs, n_sources) >= 2
                THEN FLOOR(sqrt(chi2 / (CAST(n_total AS DOUBLE)
                                        * (CAST(LEAST(n_langs, n_sources)
                                                AS DOUBLE) - 1.0)))
                           * 1e6 + 0.5) / 1e6
           END AS cramers_v
    FROM agg
    """,
)

# Higher moments per event type from four exact raw power sums; the
# central-moment expansion chain is mirrored token-for-token; skew/kurt
# are ×100-scale-invariant; sqrt only (pow is not correctly rounded).
register(
    "moments_profile",
    stats_ops.moments_profile,
    """
    WITH base AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
    ), g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS s1,
             SUM(CAST(x * x AS HUGEINT)) AS s2,
             SUM(CAST(x AS HUGEINT) * (x * x)) AS s3,
             SUM(CAST(x * x AS HUGEINT) * (x * x)) AS s4
      FROM base GROUP BY 1
    ), r AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM g
    ), c AS (
      SELECT event_type, n, nd, m,
             r2 - m * m AS m2,
             r3 - 3.0 * m * r2 + 2.0 * m * m * m AS m3,
             r4 - 4.0 * m * r3 + 6.0 * m * m * r2
                - 3.0 * m * m * m * m AS m4
      FROM r
    ), s AS (
      SELECT event_type, n, nd, m, m2,
             m3 / (m2 * sqrt(m2)) AS skew,
             m4 / (m2 * m2) AS kurt
      FROM c
    )
    SELECT event_type, n AS n_events,
           FLOOR((m / 100.0) * 1e6 + 0.5) / 1e6 AS mean_value,
           CASE WHEN n >= 2 AND m2 > 0
                THEN FLOOR(skew * 1e6 + 0.5) / 1e6 END AS skewness,
           CASE WHEN n >= 2 AND m2 > 0
                THEN FLOOR(kurt * 1e6 + 0.5) / 1e6 END AS kurtosis,
           CASE WHEN n >= 2 AND m2 > 0
                THEN FLOOR(((nd / 6.0)
                            * (skew * skew
                               + (kurt - 3.0) * (kurt - 3.0) / 4.0))
                           * 1e6 + 0.5) / 1e6 END AS jarque_bera
    FROM s
    """,
)

# Local clustering coefficient: id-order triangle enumeration in SQL is
# orientation-invariant vs the degree-ordered Spark kernel; exact
# integer degree/triangle counts, one double chain per node.
register(
    "clustering_coefficient",
    graph.clustering_coefficient,
    f"""
    WITH e AS ({_DUCK_CO_SUPPLIER_EDGES}), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1
    ), tri AS (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t
      FROM (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri)
      GROUP BY 1
    )
    SELECT d.node, d.degree,
           CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
             FLOOR(((2.0 * CAST(COALESCE(p.t, 0) AS DOUBLE))
                    / (CAST(d.degree AS DOUBLE)
                       * (CAST(d.degree AS DOUBLE) - 1.0)))
                   * 1e6 + 0.5) / 1e6
           END AS clustering_coeff
    FROM deg d LEFT JOIN pernode p ON p.node = d.node
    """,
)

# Unigram-distribution divergence per source vs the whole corpus: exact
# counts; every ln snapped to the 1e-6 grid BEFORE the word-ordered
# fold (summed ln terms — the naive_bayes rule); m = (p+q)/2.
register(
    "token_divergence",
    text_analysis.token_divergence,
    f"""
    WITH sw AS MATERIALIZED (
      SELECT src, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT COALESCE(source, '<null>') AS src,
               unnest({_DUCK_TOKENS}) AS word
        FROM documents
      ) GROUP BY 1, 2
    ), tot_s AS (SELECT src, SUM(c) AS ts FROM sw GROUP BY 1),
    wglob AS (SELECT word, SUM(c) AS cw FROM sw GROUP BY 1),
    tot AS (SELECT SUM(cw) AS t FROM wglob),
    grid AS (
      SELECT s.src, w.word, s.ts, w.cw, t.t, COALESCE(x.c, 0) AS c
      FROM tot_s s CROSS JOIN wglob w
      LEFT JOIN sw x ON x.src = s.src AND x.word = w.word
      CROSS JOIN tot t
    ), terms AS (
      SELECT src, word, ts,
             CASE WHEN c > 0 THEN
               (CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
               * (FLOOR(ln((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
                           / (CAST(cw AS DOUBLE) / CAST(t AS DOUBLE)))
                        * 1e6 + 0.5) / 1e6)
             ELSE 0.0 END AS klt,
             CASE WHEN c > 0 THEN
               0.5 * ((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
                 * (FLOOR(ln((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
                     / ((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE)
                         + CAST(cw AS DOUBLE) / CAST(t AS DOUBLE)) / 2.0))
                     * 1e6 + 0.5) / 1e6))
             ELSE 0.0 END
             + 0.5 * ((CAST(cw AS DOUBLE) / CAST(t AS DOUBLE))
                 * (FLOOR(ln((CAST(cw AS DOUBLE) / CAST(t AS DOUBLE))
                     / ((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE)
                         + CAST(cw AS DOUBLE) / CAST(t AS DOUBLE)) / 2.0))
                     * 1e6 + 0.5) / 1e6)) AS jst
      FROM grid
    ), agg AS (
      SELECT src AS source, CAST(MAX(ts) AS BIGINT) AS n_tokens,
             COALESCE(list_reduce(list_prepend(0.0,
               list(klt ORDER BY word)), (a, x) -> a + x), 0.0) AS kl,
             COALESCE(list_reduce(list_prepend(0.0,
               list(jst ORDER BY word)), (a, x) -> a + x), 0.0) AS js
      FROM terms GROUP BY 1
    )
    SELECT source, n_tokens,
           FLOOR(kl * 1e6 + 0.5) / 1e6 AS kl_div,
           FLOOR(js * 1e6 + 0.5) / 1e6 AS js_div
    FROM agg
    """,
)

# Bollinger bands: calendar-scale daily sufficient statistics, exact
# DECIMAL/HUGEINT RANGE-frame sums, one float chain per day.
register(
    "bollinger_bands",
    temporal.bollinger_bands,
    """
    WITH base AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_obs,
             SUM(CAST(x AS HUGEINT)) AS s,
             SUM(CAST(x AS HUGEINT) * x) AS q
      FROM base GROUP BY 1, 2
    ), win AS (
      SELECT event_type, day, n_obs,
             SUM(n_obs) OVER w AS wn,
             SUM(s) OVER w AS ws,
             SUM(q) OVER w AS wq
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ), c AS (
      SELECT event_type, day, n_obs, wn,
             (CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE)) / 100.0 AS ma,
             sqrt(GREATEST((CAST(wq AS DOUBLE)
                            - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE)
                              / CAST(wn AS DOUBLE))
                           / CAST(wn AS DOUBLE), 0.0)) / 100.0 AS sd
      FROM win
    )
    SELECT event_type, day, n_obs, CAST(wn AS BIGINT) AS n_window,
           FLOOR(ma * 1e6 + 0.5) / 1e6 AS ma,
           FLOOR(sd * 1e6 + 0.5) / 1e6 AS sd,
           FLOOR((ma + 2.0 * sd) * 1e6 + 0.5) / 1e6 AS upper_band,
           FLOOR((ma - 2.0 * sd) * 1e6 + 0.5) / 1e6 AS lower_band
    FROM c
    """,
)

# Multi-horizon rolling features: per-(user, day) pre-aggregate, two
# RANGE frames over one sort, exact integers end-to-end (no floats).
register(
    "user_rolling_features",
    event_analytics.user_rolling_features,
    """
    WITH daily AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0)
                      AS HUGEINT)) AS cents
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT user_id, day, n_events,
           CAST(SUM(n_events) OVER w7 AS BIGINT) AS n_7d,
           CAST(SUM(n_events) OVER w30 AS BIGINT) AS n_30d,
           CAST(SUM(cents) OVER w7 AS BIGINT) AS cents_7d,
           CAST(SUM(cents) OVER w30 AS BIGINT) AS cents_30d,
           CAST(COUNT(*) OVER w30 AS BIGINT) AS days_active_30d
    FROM daily
    WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
           w30 AS (PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
)

# Grid-bucketed nearest-supplier spatial join: pure integer coordinate
# derivation and squared distances; 3x3 neighborhood radius contract
# over density-adaptive cells (~1 supplier per cell, mirrored from
# COUNT(*) — identical to v1's fixed 10k cell at sf0.01 and below).
register(
    "geo_grid_join",
    matching.geo_grid_join,
    """
    WITH params AS (
      SELECT GREATEST(LEAST(100000 // CAST(CEIL(SQRT(GREATEST(
               COUNT(*), 1))) AS BIGINT), 10000), 1) AS cell
      FROM supplier
    ), probes AS (
      SELECT c_custkey,
             (c_custkey * 48271) % 100000 AS cx,
             (c_custkey * 69621) % 100000 AS cy
      FROM customer WHERE c_custkey IS NOT NULL
    ), cells AS (
      SELECT p.c_custkey, p.cx, p.cy,
             (p.cx // pr.cell) + dx.d AS gx,
             (p.cy // pr.cell) + dy.d AS gy
      FROM probes p CROSS JOIN params pr,
           (SELECT unnest([-1, 0, 1]) AS d) dx,
           (SELECT unnest([-1, 0, 1]) AS d) dy
    ), builds AS (
      SELECT s_suppkey,
             (s_suppkey * 40692) % 100000 AS sx,
             (s_suppkey * 52774) % 100000 AS sy,
             ((s_suppkey * 40692) % 100000) // pr.cell AS gx,
             ((s_suppkey * 52774) % 100000) // pr.cell AS gy
      FROM supplier CROSS JOIN params pr
      WHERE s_suppkey IS NOT NULL
    ), scored AS (
      SELECT c.c_custkey, b.s_suppkey,
             (c.cx - b.sx) * (c.cx - b.sx)
             + (c.cy - b.sy) * (c.cy - b.sy) AS dist2
      FROM cells c JOIN builds b ON c.gx = b.gx AND c.gy = b.gy
    ), ranked AS (
      SELECT c_custkey, s_suppkey, dist2,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY dist2 ASC, s_suppkey ASC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY c_custkey) AS BIGINT)
               AS n_candidates
      FROM scored
    )
    SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2,
           n_candidates
    FROM ranked WHERE rn = 1
    """,
)

# Mutual nearest neighbors within seed-19 LSH blocks (hot coarse
# buckets split to the 7-plane refinement over the same literals —
# occupancy CASE mirrored): bucket key and normalized-vector cosine
# both rebuilt from the Spark kernel's literals; reciprocal top-1.
register(
    "mutual_knn",
    similarity.mutual_knn,
    f"""
    WITH e AS ({_duck_vectors()}), withnorm AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_duck_hyperplane_bucket('v', seed=19, n_planes=3, dim=64)}
               AS b_coarse,
             {_duck_hyperplane_bucket('v', seed=19, n_planes=7, dim=64)}
               AS b_fine
      FROM e
    ), blocked AS (
      SELECT vec_id, v, nrm,
             CASE WHEN COUNT(*) OVER (PARTITION BY b_coarse) > 512
                  THEN b_fine + 8 ELSE b_coarse END AS bucket
      FROM withnorm
    ), n AS (
      SELECT vec_id, bucket, list_transform(v, x -> x / nrm) AS vn
      FROM blocked WHERE nrm > 0
    ), pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.vn, b.vn) AS cos_sim
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), sym AS (
      SELECT id1 AS src, id2 AS nbr, cos_sim FROM pairs
      UNION ALL
      SELECT id2 AS src, id1 AS nbr, cos_sim FROM pairs
    ), top1 AS (
      SELECT src, nbr, cos_sim FROM (
        SELECT src, nbr, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY cos_sim DESC, nbr ASC) AS rn
        FROM sym
      ) WHERE rn = 1
    )
    SELECT x.src AS vec_a, x.nbr AS vec_b, x.cos_sim AS cos_sim
    FROM top1 x JOIN top1 y
      ON x.src = y.nbr AND x.nbr = y.src AND x.src < x.nbr
    """,
)

# Cutler RSI over consecutive-observed-day deltas: exact integer cent
# deltas/gains/losses, ROWS frame, Σg/(Σg+Σl) single chain.
register(
    "rsi",
    temporal.rsi,
    """
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS s
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ), delta AS (
      SELECT event_type, day,
             CAST(s - LAG(s, 1) OVER (PARTITION BY event_type
                                      ORDER BY day) AS BIGINT) AS d
      FROM daily
    ), win AS (
      SELECT event_type, day, d AS delta_cents,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_deltas,
             SUM(CAST(GREATEST(d, 0) AS HUGEINT)) OVER w AS sg,
             SUM(CAST(GREATEST(-d, 0) AS HUGEINT)) OVER w AS sl
      FROM delta WHERE d IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, delta_cents, n_deltas,
           CASE WHEN CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE) > 0
                THEN FLOOR((100.0 * CAST(sg AS DOUBLE)
                            / (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
           END AS rsi
    FROM win
    """,
)

# Running drawdown from the integer-cent high-water mark; the running
# MAX over snapped per-day drawdowns is order-free (identical doubles).
register(
    "drawdown",
    temporal.drawdown,
    """
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(CAST(ROUND(value * 100) AS BIGINT)
                           AS HUGEINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ), peaked AS (
      SELECT event_type, day, cents,
             MAX(cents) OVER w AS peak_cents
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), stepped AS (
      SELECT event_type, day, cents, peak_cents,
             CASE WHEN peak_cents > 0
                  THEN FLOOR(((CAST(peak_cents AS DOUBLE)
                               - CAST(cents AS DOUBLE))
                              / CAST(peak_cents AS DOUBLE))
                             * 1e6 + 0.5) / 1e6
             END AS drawdown
      FROM peaked
    )
    SELECT event_type, day, cents, peak_cents, drawdown,
           MAX(drawdown) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS max_drawdown
    FROM stepped
    """,
)

# Link-prediction triad per edge of the BOUNDED co-supplier graph
# (mutual top-LINKPRED_K by co-order count, ties by id — the cap is
# the operator's scale contract; the raw graph's ~6e8 sf1 triangles
# made the unbounded oracle DNF): ROW_NUMBER mirrors the Spark
# window's total order exactly; id-ordered triangle credit
# (enumeration-order invariant vs the Spark side's degree-ordered
# wedges); Adamic–Adar as an order-free BIGINT sum of 1e-6-snapped
# integer weights.
register(
    "link_prediction",
    graph.link_prediction,
    f"""
    WITH po AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), pw AS MATERIALIZED (
      SELECT x.l_suppkey AS a, y.l_suppkey AS b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM po x JOIN po y
        ON {_DUCK_ORDER_PAIR}
      GROUP BY 1, 2
    ), sym AS (
      SELECT a AS node, b AS nbr, w FROM pw
      UNION ALL SELECT b AS node, a AS nbr, w FROM pw
    ), rk AS (
      SELECT node, nbr,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY w DESC, nbr ASC) AS rn
      FROM sym
    ), tk AS MATERIALIZED (
      SELECT node, nbr FROM rk WHERE rn <= {graph.LINKPRED_K}
    ), e AS MATERIALIZED (
      SELECT f.node AS a, f.nbr AS b
      FROM tk f JOIN tk r ON r.node = f.nbr AND r.nbr = f.node
      WHERE f.node < f.nbr
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1
    ), tri AS (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), contrib AS (
      SELECT u AS a, v AS b, w AS cn FROM tri
      UNION ALL SELECT u AS a, w AS b, v AS cn FROM tri
      UNION ALL SELECT v AS a, w AS b, u AS cn FROM tri
    ), agg AS (
      SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS common,
             SUM(CAST(FLOOR((1.0 / ln(CAST(d.degree AS DOUBLE)))
                            * 1e6 + 0.5) AS BIGINT)) AS aa_int
      FROM contrib c JOIN deg d ON d.node = c.cn
      GROUP BY 1, 2
    )
    SELECT e.a AS node_a, e.b AS node_b,
           da.degree AS deg_a, db.degree AS deg_b,
           CAST(COALESCE(g.common, 0) AS BIGINT) AS common_neighbors,
           FLOOR((CAST(COALESCE(g.common, 0) AS DOUBLE)
                  / (CAST(da.degree AS DOUBLE) + CAST(db.degree AS DOUBLE)
                     - CAST(COALESCE(g.common, 0) AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS jaccard,
           FLOOR((CAST(COALESCE(g.aa_int, 0) AS DOUBLE) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS adamic_adar
    FROM e
    JOIN deg da ON da.node = e.a
    JOIN deg db ON db.node = e.b
    LEFT JOIN agg g ON g.a = e.a AND g.b = e.b
    """,
)

# Monroe-style distinctive-word z-scores per source: exact counts,
# snapped lns, one mirrored delta/var/z chain per cell, top-10 by
# (z DESC, word ASC).
register(
    "log_odds_words",
    text_analysis.log_odds_words,
    f"""
    WITH sw AS MATERIALIZED (
      SELECT src, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT COALESCE(source, '<null>') AS src,
               unnest({_DUCK_TOKENS}) AS word
        FROM documents
      ) GROUP BY 1, 2
    ), tot_s AS (SELECT src, SUM(c) AS ns FROM sw GROUP BY 1),
    wglob AS (SELECT word, SUM(c) AS cw FROM sw GROUP BY 1),
    tot AS (SELECT SUM(cw) AS n FROM wglob),
    grid AS (
      SELECT s.src, w.word, COALESCE(x.c, 0) AS csw, s.ns, w.cw, t.n
      FROM tot_s s CROSS JOIN wglob w
      LEFT JOIN sw x ON x.src = s.src AND x.word = w.word
      CROSS JOIN tot t
    ), sc AS (
      SELECT src AS source, word, CAST(csw AS BIGINT) AS n_sw,
             FLOOR(((FLOOR(ln((CAST(csw AS DOUBLE) + 0.5)
                              / (CAST(ns - csw AS DOUBLE) + 0.5))
                           * 1e6 + 0.5) / 1e6
                     - FLOOR(ln((CAST(cw - csw AS DOUBLE) + 0.5)
                                / (CAST(n - ns - (cw - csw) AS DOUBLE)
                                   + 0.5))
                             * 1e6 + 0.5) / 1e6)
                    / sqrt(1.0 / (CAST(csw AS DOUBLE) + 0.5)
                           + 1.0 / (CAST(ns - csw AS DOUBLE) + 0.5)
                           + 1.0 / (CAST(cw - csw AS DOUBLE) + 0.5)
                           + 1.0 / (CAST(n - ns - (cw - csw) AS DOUBLE)
                                    + 0.5)))
                   * 1e6 + 0.5) / 1e6 AS z_score
      FROM grid
    )
    SELECT source, word, n_sw, z_score, rnk FROM (
      SELECT source, word, n_sw, z_score,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY z_score DESC, word ASC)
                  AS BIGINT) AS rnk
      FROM sc
    ) WHERE rnk <= 10
    """,
)

# Laplace-smoothed bigram LM scoring: array-local bigram generation,
# exact counts, snapped lns folded in bigram order per doc.
register(
    "bigram_logprob",
    text_analysis.bigram_logprob,
    f"""
    WITH toks AS (
      SELECT doc_id,
             {_DUCK_TOKENS} AS l
      FROM documents
    ), bg0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, GREATEST(len(l), 1)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bg
      FROM toks
    ), dbc AS MATERIALIZED (
      SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bg0 GROUP BY 1, 2
    ), model AS (
      SELECT bg, SUM(cnt) AS cbg FROM dbc GROUP BY 1
    ), heads AS (
      SELECT split_part(bg, ' ', 1) AS w1, SUM(cbg) AS c1
      FROM model GROUP BY 1
    ), vocab AS (
      SELECT COUNT(DISTINCT w) AS v FROM (
        SELECT unnest({_DUCK_TOKENS}) AS w
        FROM documents
      )
    ), lp AS (
      SELECT m.bg,
             FLOOR(ln(CAST(m.cbg + 1 AS DOUBLE)
                      / CAST(h.c1 + vb.v AS DOUBLE)) * 1e6 + 0.5)
               / 1e6 AS lnp
      FROM model m
      JOIN heads h ON h.w1 = split_part(m.bg, ' ', 1)
      CROSS JOIN vocab vb
    ), per_doc AS (
      SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
             COALESCE(list_reduce(list_prepend(0.0,
               list(CAST(d.cnt AS DOUBLE) * lp.lnp ORDER BY d.bg)),
               (a, t) -> a + t), 0.0) AS s
      FROM dbc d JOIN lp ON lp.bg = d.bg
      GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           FLOOR((s / CAST(n_bigrams AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS logprob_per_bigram
    FROM per_doc
    """,
)

# RFM quintiles from explicit rank bands (score = 5 - floor((rank-1)*5/N));
# the oracle ranks with plain ROW_NUMBER (sf0.01) — the Spark side's
# bucket-offset ranks are contract-equal by construction.
register(
    "rfm_segmentation",
    event_analytics.rfm_segmentation,
    """
    WITH per_user AS (
      SELECT user_id,
             MAX(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))
               AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0)
                           AS HUGEINT)) AS BIGINT) AS monetary_cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), ref AS (
      SELECT MAX(last_day) AS ref_day, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per_user
    ), base AS (
      SELECT user_id, r.ref_day - last_day AS recency_days,
             frequency, monetary_cents, r.n_users
      FROM per_user CROSS JOIN ref r
    ), ranked AS (
      SELECT user_id, recency_days, frequency, monetary_cents, n_users,
             ROW_NUMBER() OVER (ORDER BY recency_days ASC,
                                user_id ASC NULLS FIRST) AS r_rank,
             ROW_NUMBER() OVER (ORDER BY frequency DESC,
                                user_id ASC NULLS FIRST) AS f_rank,
             ROW_NUMBER() OVER (ORDER BY monetary_cents DESC,
                                user_id ASC NULLS FIRST) AS m_rank
      FROM base
    ), scored AS (
      SELECT user_id, recency_days, frequency, monetary_cents,
             CAST(5 - FLOOR((r_rank - 1) * 5 / n_users) AS BIGINT)
               AS r_score,
             CAST(5 - FLOOR((f_rank - 1) * 5 / n_users) AS BIGINT)
               AS f_score,
             CAST(5 - FLOOR((m_rank - 1) * 5 / n_users) AS BIGINT)
               AS m_score
      FROM ranked
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)

# First-touch conversion lag: exact integer microseconds, conditional
# MINs in one type-pruned pass, at-or-after attribution contract.
register(
    "conversion_lag",
    event_analytics.conversion_lag,
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts) END) AS first_view_us,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS first_purchase_us
      FROM events
      WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
      GROUP BY 1
    )
    SELECT user_id, first_view_us, first_purchase_us,
           CASE WHEN first_view_us IS NOT NULL
                     AND first_purchase_us IS NOT NULL
                     AND first_purchase_us >= first_view_us
                THEN first_purchase_us - first_view_us END AS lag_us,
           CAST(CASE WHEN first_view_us IS NOT NULL
                          AND first_purchase_us IS NOT NULL
                          AND first_purchase_us >= first_view_us
                     THEN 1 ELSE 0 END AS BIGINT) AS converted
    FROM per_user
    """,
)

# Tukey-fence outliers from the domain-bounded cell table: exact
# integer type-7 quarters (4q), denominator-cleared fence inequalities.
register(
    "iqr_outliers",
    stats_ops.iqr_outliers,
    """
    WITH cells AS (
      SELECT l_returnflag AS grp, CAST(ROUND(l_quantity) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
    ), c2 AS (
      SELECT grp, v, f,
             COALESCE(SUM(f) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cb,
             SUM(f) OVER (PARTITION BY grp) AS n
      FROM cells
    ), qs AS (
      SELECT grp, MAX(n) AS n,
             MAX((n - 1) % 4) AS r1,
             MAX((3 * (n - 1)) % 4) AS r3,
             MAX(CASE WHEN cb <= (n - 1) // 4 THEN v END) AS vf1,
             MAX(CASE WHEN cb <= (n - 1) // 4
                           + LEAST((n - 1) % 4, 1) THEN v END) AS vc1,
             MAX(CASE WHEN cb <= (3 * (n - 1)) // 4 THEN v END) AS vf3,
             MAX(CASE WHEN cb <= (3 * (n - 1)) // 4
                           + LEAST((3 * (n - 1)) % 4, 1) THEN v END)
               AS vc3
      FROM c2 GROUP BY grp
    ), fenced AS (
      SELECT grp, n,
             4 * vf1 + r1 * (vc1 - vf1) AS q1_4,
             4 * vf3 + r3 * (vc3 - vf3) AS q3_4,
             (4 * vf3 + r3 * (vc3 - vf3))
               - (4 * vf1 + r1 * (vc1 - vf1)) AS iqr_4
      FROM qs
    )
    SELECT c.grp, CAST(MAX(fe.n) AS BIGINT) AS n,
           MAX(CAST(fe.q1_4 AS DOUBLE) / 4.0) AS q1,
           MAX(CAST(fe.q3_4 AS DOUBLE) / 4.0) AS q3,
           MAX(CAST(fe.iqr_4 AS DOUBLE) / 4.0) AS iqr,
           CAST(SUM(CASE WHEN 8 * c.v < 2 * fe.q1_4 - 3 * fe.iqr_4
                         THEN c.f ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN 8 * c.v > 2 * fe.q3_4 + 3 * fe.iqr_4
                         THEN c.f ELSE 0 END) AS BIGINT) AS n_high
    FROM cells c JOIN fenced fe ON fe.grp IS NOT DISTINCT FROM c.grp
    GROUP BY 1
    """,
)

# ---------------------------------------------------------------------------
# Round 15: corpus/graph audit metrics
# ---------------------------------------------------------------------------

# Newman degree assortativity over ordered co-supplier edges: the
# symmetric marginals collapse the Pearson to per-edge sums (n = 2|E|,
# Sx = Σ(da+db), Sxx = Σ(da²+db²), Sxy = 2Σ(da·db)), all exact in
# HUGEINT; one mirrored double chain, NULL on zero degree variance.
register(
    "graph_assortativity",
    graph.graph_assortativity,
    f"""
    WITH e AS MATERIALIZED ({_DUCK_CO_SUPPLIER_EDGES}), deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1
    ), wd AS (
      SELECT da.degree AS x, db.degree AS y
      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
    ), s AS (
      SELECT COUNT(*) AS m,
             SUM(CAST(x AS HUGEINT) + y) AS sx,
             SUM(CAST(x AS HUGEINT) * x + CAST(y AS HUGEINT) * y) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy_half
      FROM wd
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m AS BIGINT) AS n_edges,
           CASE WHEN CAST(m * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                THEN FLOOR(((CAST(m * 2 AS DOUBLE)
                              * (CAST(sxy_half AS DOUBLE) * 2)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            / (CAST(m * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
           END AS assortativity
    FROM s
    """,
)

# Zipf rank-frequency OLS over the top-100 words: both lns snapped to
# exact BIGINT micro-units before the six sufficient-statistic sums
# (HUGEINT); slope snapped BEFORE the intercept chain consumes it.
register(
    "zipf_fit",
    corpus.zipf_fit,
    f"""
    WITH wc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest({_DUCK_TOKENS}) AS word
        FROM documents
      ) GROUP BY 1
    ), top AS (
      SELECT word, c FROM wc
      ORDER BY c DESC, word ASC LIMIT {corpus.ZIPF_TOP}
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word ASC) AS rnk
      FROM top
    ), snapped AS (
      SELECT CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS lx,
             CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS ly
      FROM ranked
    ), s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(lx AS HUGEINT)) AS sx,
             SUM(CAST(ly AS HUGEINT)) AS sy,
             SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
             SUM(CAST(ly AS HUGEINT) * ly) AS syy,
             SUM(CAST(lx AS HUGEINT) * ly) AS sxy
      FROM snapped
    ), chain AS (
      SELECT n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM s
    ), sl AS (
      SELECT n, num, denx, deny, sxd, syd,
             FLOOR((num / denx) * 1e6 + 0.5) / 1e6 AS slope
      FROM chain
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           CASE WHEN n >= 2 AND denx > 0 THEN slope END AS slope,
           CASE WHEN n >= 2 AND denx > 0
                THEN FLOOR(((syd / 1e6 - slope * (sxd / 1e6))
                            / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS intercept,
           CASE WHEN n >= 2 AND denx > 0 AND deny > 0
                THEN FLOOR(((num * num) / (denx * deny)) * 1e6 + 0.5)
                     / 1e6
           END AS r2
    FROM sl
    """,
)

# Pairwise source-vocabulary Jaccard: distinct (source, word)
# incidence table feeds sizes and the word-keyed intersection join
# (fan-out bounded by #sources² per word); exact counts, one snapped
# division per pair.
register(
    "source_jaccard",
    corpus.source_jaccard,
    f"""
    WITH st AS MATERIALIZED (
      SELECT DISTINCT src, word FROM (
        SELECT COALESCE(source, '<null>') AS src,
               unnest({_DUCK_TOKENS}) AS word
        FROM documents
      )
    ), sizes AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1
    ), inter AS (
      SELECT x.src AS sa, y.src AS sb, CAST(COUNT(*) AS BIGINT) AS c
      FROM st x JOIN st y ON x.word = y.word AND x.src < y.src
      GROUP BY 1, 2
    )
    SELECT a.src AS src_a, b.src AS src_b, a.n AS n_a, b.n AS n_b,
           CAST(COALESCE(i.c, 0) AS BIGINT) AS n_common,
           FLOOR((CAST(COALESCE(i.c, 0) AS DOUBLE)
                  / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)
                     - CAST(COALESCE(i.c, 0) AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS jaccard
    FROM sizes a JOIN sizes b ON a.src < b.src
    LEFT JOIN inter i ON i.sa = a.src AND i.sb = b.src
    """,
)

# Shared lang_id-vs-truth confusion-cell CTE chain for the two eval
# keys: the lang_id oracle's marker/argmax logic verbatim, joined to
# the COALESCE(lang, '<null>') truth label and rolled to bounded
# (lang, pred_lang, n) cells.
_LANG_CELLS_SQL = f"""
    tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), markers(m_lang, m_word) AS (
      VALUES {_DUCK_MARKERS}
    ), hits AS (
      SELECT doc_id, m_lang AS pred_lang, COUNT(*) AS hits
      FROM tok JOIN markers ON tok = m_word GROUP BY 1, 2
    ), best AS (
      SELECT doc_id, pred_lang,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY hits DESC, pred_lang ASC) AS rn
      FROM hits
    ), cells AS (
      SELECT COALESCE(d.lang, '<null>') AS lang,
             COALESCE(b.pred_lang, 'und') AS pred_lang,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
      GROUP BY 1, 2
    )
"""

# Per-class precision/recall/F1 off the bounded confusion cells:
# classes are the union of truth and prediction labels; each metric is
# ONE division of exact integers (f1 = 2tp/(2tp+fp+fn) = 2tp/(support
# + predicted) avoids compounding rounded precision/recall).
register(
    "classifier_eval",
    text_analysis.classifier_eval,
    f"""
    WITH {_LANG_CELLS_SQL},
    truth AS (
      SELECT lang AS cls, SUM(n) AS support FROM cells GROUP BY 1
    ), predv AS (
      SELECT pred_lang AS cls, SUM(n) AS predicted FROM cells GROUP BY 1
    ), diag AS (
      SELECT lang AS cls, n AS tp FROM cells WHERE lang = pred_lang
    ), base AS (
      SELECT COALESCE(t.cls, p.cls) AS cls,
             COALESCE(t.support, 0) AS support,
             COALESCE(p.predicted, 0) AS predicted,
             COALESCE(d.tp, 0) AS tp
      FROM truth t FULL JOIN predv p ON t.cls = p.cls
      LEFT JOIN diag d ON COALESCE(t.cls, p.cls) = d.cls
    )
    SELECT cls,
           CAST(support AS BIGINT) AS support,
           CAST(tp AS BIGINT) AS tp,
           CAST(predicted - tp AS BIGINT) AS fp,
           CAST(support - tp AS BIGINT) AS fn,
           CASE WHEN predicted > 0
                THEN FLOOR((CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS precision,
           CASE WHEN support > 0
                THEN FLOOR((CAST(tp AS DOUBLE) / CAST(support AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS recall,
           CASE WHEN support + predicted > 0
                THEN FLOOR((2.0 * CAST(tp AS DOUBLE)
                            / CAST(support + predicted AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS f1
    FROM base
    """,
)

# Cohen's kappa collapsed to ONE integer division: with D the diagonal
# mass and S = sum(support_c * predicted_c), (p_o - p_e)/(1 - p_e)
# = (n*D - S)/(n^2 - S) over the common 1/n^2 factor; HUGEINT products,
# NULL on the degenerate n^2 = S table.
register(
    "cohens_kappa",
    text_analysis.cohens_kappa,
    f"""
    WITH {_LANG_CELLS_SQL},
    truth AS (
      SELECT lang AS cls, SUM(n) AS support FROM cells GROUP BY 1
    ), predv AS (
      SELECT pred_lang AS cls, SUM(n) AS predicted FROM cells GROUP BY 1
    ), marg AS (
      SELECT SUM(CAST(COALESCE(t.support, 0) AS HUGEINT)
                 * COALESCE(p.predicted, 0)) AS S
      FROM truth t FULL JOIN predv p ON t.cls = p.cls
    ), tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END)
                  AS HUGEINT) AS D
      FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CASE WHEN n > 0
                THEN FLOOR((CAST(D AS DOUBLE) / CAST(n AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS observed_agreement,
           CASE WHEN n > 0
                THEN FLOOR((CAST(S AS DOUBLE) / CAST(n * n AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS expected_agreement,
           CASE WHEN n * n <> S
                THEN FLOOR((CAST(n * D - S AS DOUBLE)
                            / CAST(n * n - S AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS kappa
    FROM tot CROSS JOIN marg
    """,
)

# Connected components: CC_ROUNDS unrolled hash-min rounds (the
# pagerank-unroll move — a recursive CTE cannot do per-round min
# REPLACEMENT without USING KEY, and the accumulate-all-pairs form is
# Θ(Σ|C|²·deg): it never finished on the 2M-edge skew twin). Each
# round is one |E|-sized join + one |V|-sized min — linear at any
# scale; the Spark side's early-stop at the fixpoint is bit-identical
# to the full unroll.


def _cc_unrolled_sql(rounds: int) -> str:
    steps = []
    prev = "l0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""l{i} AS MATERIALIZED (
      SELECT s.nb AS node, MIN(LEAST(p.lbl, q.lbl)) AS lbl
      FROM sym s
      JOIN {prev} p ON p.node = s.node
      JOIN {prev} q ON q.node = s.nb
      GROUP BY 1
    )"""
        )
        prev = f"l{i}"
    return f"""
    WITH e AS MATERIALIZED ({_DUCK_CO_SUPPLIER_EDGES}), sym AS MATERIALIZED (
      SELECT a AS node, b AS nb FROM e
      UNION ALL SELECT b, a FROM e
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT node, node AS lbl
      FROM (SELECT a AS node FROM e UNION SELECT b FROM e)
    ), {', '.join(steps)}
    SELECT node, CAST(lbl AS BIGINT) AS component FROM {prev}
    """


register(
    "connected_components",
    graph.connected_components,
    _cc_unrolled_sql(graph.CC_ROUNDS),
)

# ANN recall audit: the oracle computes plain per-query top-k on both
# sides (the Spark side's lossless salt pre-rank needs no mirroring —
# only the final total-order top-k matters); counts are exact
# integers, recall one snapped division.
register(
    "ann_recall",
    similarity.ann_recall,
    f"""
    WITH e AS ({_duck_vectors()}), b AS (
      SELECT vec_id, v,
             {_duck_hyperplane_bucket('v', seed=7)} AS bucket
      FROM e
    ), q AS (
      SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b
      WHERE vec_id < {similarity.ANN_QUERIES}
    ), scored AS (
      SELECT q.qid, b.vec_id, b.bucket = q.qb AS in_bucket,
             {_DUCK_COS.format(a='b.v', b='q.qv')} AS cs
      FROM b CROSS JOIN q WHERE b.vec_id <> q.qid
    ), exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cs DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= {similarity.TOP_K}
    ), approx AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cs DESC, vec_id ASC) AS rn
        FROM scored WHERE in_bucket
      ) WHERE rn <= {similarity.TOP_K}
    ), ne AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM exact GROUP BY 1
    ), na AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_approx
      FROM approx GROUP BY 1
    ), nc AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid
    )
    SELECT ne.qid, ne.n_exact,
           CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common,
           CASE WHEN ne.n_exact > 0
                THEN FLOOR((CAST(COALESCE(nc.n_common, 0) AS DOUBLE)
                            / CAST(ne.n_exact AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
           END AS recall_at_k
    FROM ne
    LEFT JOIN na ON na.qid = ne.qid
    LEFT JOIN nc ON nc.qid = ne.qid
    """,
)

# Band S-curve audit over the exact near-dup ground truth: jaccard
# recomputed on string shingle sets (the dedup_near convention, equal
# to the hashed-set value up to ~2^-64 collisions), p = 1-(1-J^4)^8 as
# a snapped chain off that division, and catch_ok mirrored as literal
# true -- (J < 1) OR found is provable (a J = 1 pair has identical
# minhash signatures, hence identical band keys, hence IS a candidate).
register(
    "lsh_probability",
    dedup.lsh_probability,
    f"""
    WITH {_duck_shingle_overlap()}, pairs AS (
      SELECT id1, id2, {_DUCK_JACCARD} AS jaccard
      {_DUCK_JACCARD_PAIRS}
    )
    SELECT id1, id2, jaccard,
           FLOOR((1.0 - POWER(1.0 - POWER(jaccard, 4.0), 8.0))
                 * 1e6 + 0.5) / 1e6 AS p_catch,
           true AS catch_ok
    FROM pairs
    """,
)
