"""Seeded, distributed billing generator (reference S5, made deterministic).

The reference generator (``BD_hw1/src/generator/ItemBillingGenerator.java:
16-34``, ``FoodGenerator.java:30-44``, ``RandomDateGenerator.java:7-18``)
draws unseeded ``new Random()`` per call — unreproducible (quirk Q12).
Ours derives every choice from ``md5(seed|salt|bill_id)`` so the corpus
is a pure function of (n, seed): reproducible across runs, cluster-scale
(``spark.range`` parallelizes the id space, no driver loop),
engine-portable (md5 over the same bytes is identical everywhere, so
the DuckDB oracle REGENERATES the corpus row-for-row in SQL — the
``python_datasource`` recipe, which promoted this key from rows-only to
full value-hash), and property-equivalent to the reference:

* 1-9 unique items per billing drawn from the 8-word vocabulary
  (``BD_hw1/food:1-8``),
* uniform random date in 2015.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.sources.billing import parse_billings_a, render_line

# BD_hw1/food:1-8
FOOD_VOCAB = (
    "uova", "latte", "pane", "vino", "pesce", "insalata", "formaggio",
    "dolce",
)


def _h32(seed: int, salt: str, *cols: Column) -> Column:
    """First 8 md5 hex chars of ``seed|salt|col...`` as a bigint —
    32 uniform bits, reproducible byte-for-byte in any engine with md5
    (DuckDB mirror: ``CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)``)."""
    s = F.concat_ws("|", F.lit(str(seed)), F.lit(salt),
                    *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def gen_billings(spark: SparkSession, n: int = 1000, seed: int = 42) -> DataFrame:
    """(bill_id, bill_date DATE, items ARRAY<STRING>) — n deterministic rows.

    Per-row item subset: vocabulary sorted by per-(row,word) md5 hex
    (lowercase hex sorts identically everywhere), then the first k
    taken — uniform without replacement, fully deterministic, no
    Python. k ∈ [1, min(9, |FOOD_VOCAB|)] mirrors the reference's
    ``rand.nextInt(max)`` with the 0→1 bump.
    """
    k_max = min(9, len(FOOD_VOCAB))
    vocab_arr = F.array(*[F.lit(w) for w in FOOD_VOCAB])
    bid = F.col("bill_id")

    df = spark.range(n).select(
        F.col("id").alias("bill_id"),
    ).select(
        "bill_id",
        F.date_add(
            F.to_date(F.lit("2015-01-01")),
            (_h32(seed, "date", bid) % 365).cast("int"),
        ).alias("bill_date"),
        (_h32(seed, "k", bid) % k_max + 1).cast("int").alias("k"),
    )
    shuffled = F.transform(
        F.array_sort(
            F.transform(
                vocab_arr,
                lambda w: F.struct(
                    F.md5(
                        F.concat_ws("|", F.lit(str(seed)), F.lit("w"),
                                    bid.cast("string"), w)
                    ).alias("h"),
                    w.alias("w"),
                ),
            )
        ),
        lambda s: s.getField("w"),
    )
    return df.select(
        "bill_id",
        "bill_date",
        F.slice(shuffled, 1, F.col("k")).alias("items"),
    )


def billing_lines(df: DataFrame) -> DataFrame:
    """Render generated billings as reference Format A text lines
    (unpadded date, comma-joined — ``ItemBillingGenerator.java:25``)."""
    return df.select(
        render_line(F.col("bill_date"), F.col("items")).alias("value")
    )


def gen_billings_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only check): generate → render → re-parse —
    round-trips the generator through the Format A parser."""
    lines = billing_lines(gen_billings(spark, n=1000, seed=42))
    parsed = parse_billings_a(lines)
    return parsed.select(
        F.date_format("bill_date", "yyyy-MM-dd").alias("bill_date"),
        F.size("items").cast("long").alias("n_items"),
        F.array_join(F.array_sort("items"), ",").alias("items_csv"),
    )
