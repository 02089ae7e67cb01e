"""Statistical-profiling operators: correlation, rank, regression,
two-sample, concentration and moment statistics over the lineitem,
events, orders and documents tables.

No reference analog; this is the feature-statistics layer a training-data
pipeline runs to pick mixture weights and spot leaky/redundant columns
(e.g. "is quality_score just length in disguise?").

Numeric discipline (registry header rules): every sufficient statistic is
an EXACT integer — the measures are fixed-point at ≤2 decimals, so each
value is scaled to an integer with one ``round(x*100)`` (no ties: inputs
sit within 1e-9 of the grid), and all sums/products accumulate in
DECIMAL/HUGEINT with zero rounding. Only the final statistic per output
row is a single fixed-order IEEE chain on those exact integers, then
floor-rounded at 1e-6 — so the DuckDB oracles pin values bit-for-bit.
Pearson r is invariant under the affine scaling, so the scaled-integer
computation yields exactly the correlation of the original columns.

Every key is built on one shared exact-statistics core and writes none
of it again:

* ``basket.fixed_point`` (the scaler) and ``basket.day_num`` (the
  epoch-day index) turn measures and timestamps into exact integers;
* :func:`pearson_terms` is the one Pearson/OLS double chain over
  (n, Σx, Σy, Σxy, Σx², Σy²), shared with ``corpus.zipf_fit`` and
  ``graph.graph_assortativity``; :func:`_pairwise_pearson` stacks the
  pair rows of :func:`corr_matrix` and :func:`spearman_corr`;
* :func:`middle_median` is the middle-rank median and
  :func:`doubled_rank` the integer tie-averaged rank over a marginal;
* :func:`_flag_qty` and :func:`_flag_qty_cells` are the return-flag ×
  quantity rows and their (group, value) cell table;
* :func:`_chi2_cell` is the per-cell χ² expectation and term.
"""

from __future__ import annotations

import math
from functools import reduce
from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import (
    day_num,
    fixed_point,
    fold_sum,
    or_null_class,
    snap6,
)
from bigdata1_spark.sources.tables import load_table


def pearson_terms(
    n: Column | str,
    sx: Column | str,
    sy: Column | str,
    sxy: Column | str,
    sxx: Column | str,
    syy: Column | str,
) -> tuple[Column, Column, Column]:
    """The one Pearson/OLS double chain over the six exact sums: each is
    cast to double once, then

        num = n·Σxy − Σx·Σy,  denx = n·Σx² − (Σx)²,  deny = n·Σy² − (Σy)²

    in exactly this op order, which the oracles copy token for token.
    r = num/√(denx·deny), the OLS slope is num/denx and
    r² = num²/(denx·deny). Returns ``(num, denx, deny)``.
    """
    n, sx, sy, sxy, sxx, syy = (
        (F.col(c) if isinstance(c, str) else c).cast("double")
        for c in (n, sx, sy, sxy, sxx, syy)
    )
    return n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy


def _pairwise_pearson(
    rows: DataFrame, names: list[str], out: str, weight: Column | None = None
) -> DataFrame:
    """Pearson r of every pair of the integer columns ``names`` in ONE
    aggregate pass: n, per-name Σx and Σx², per-pair Σxy — each an
    exact DECIMAL sum (of weight·x… when each row stands for ``weight``
    rows) — then the upper-triangle pairs stacked from that ONE 1-row
    frame, so the plan is one shuffle of a few numbers regardless of
    table size. n is COUNT(*) unweighted (0 on no rows) and Σweight
    weighted (NULL on no rows), as the oracles have it. Each r is
    :func:`pearson_terms`, floor-rounded 1e-6; a zero-variance column
    yields NULL rather than an engine-dependent inf/NaN.
    Columns: col_x, col_y, n_rows, ``out``.
    """
    def sum_of(*cols: str) -> Column:
        terms = ([] if weight is None else [weight]) + [F.col(c) for c in cols]
        return F.sum(reduce(
            lambda p, t: p * t, [t.cast("decimal(19,0)") for t in terms]
        ))

    pairs = list(combinations(names, 2))
    n = F.count(F.lit(1)) if weight is None else F.sum(weight)
    stats = rows.agg(
        n.alias("n"),
        *[sum_of(a).alias(f"s_{a}") for a in names],
        *[sum_of(a, a).alias(f"s_{a}_{a}") for a in names],
        *[sum_of(a, b).alias(f"s_{a}_{b}") for a, b in pairs],
    )
    pair_rows = []
    for a, b in pairs:
        num, denx, deny = pearson_terms(
            "n", f"s_{a}", f"s_{b}", f"s_{a}_{b}", f"s_{a}_{a}", f"s_{b}_{b}"
        )
        den = F.sqrt(denx * deny)
        pair_rows.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("n").cast("long").alias("n_rows"),
                F.when(den > 0, snap6(num / den)).alias(out),
            )
        )
    return stats.select(
        F.explode(F.array(*pair_rows)).alias("p")
    ).select("p.col_x", "p.col_y", "p.n_rows", f"p.{out}")


def _complete_measures(
    spark: SparkSession, sf_dir: str, cols: tuple[tuple[str, str, int], ...]
) -> DataFrame:
    """The lineitem measures ``cols`` — (output name, source column,
    fixed-point scale) — as exact integers, listwise-complete (rows
    with any NULL measure dropped, so every pair shares one n)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        *[fixed_point(F.col(s), scale).alias(name) for name, s, scale in cols]
    ).na.drop("any")


def doubled_rank(value: str) -> Column:
    """The DOUBLED tie-averaged rank of each row of a marginal frame
    (one row per distinct ``value``, its row count in ``mf``):
    ``dr(v) = 2·cum(v) − mf(v) + 1``, twice the average rank
    ``cum_before(v) + (mf(v)+1)/2`` — an exact integer, and an affine
    map of the rank, so Pearson r over it is Spearman's rho. The window
    is single-partition: a marginal is bounded by its value domain,
    never by the row count."""
    w = Window.orderBy(value).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return F.lit(2) * F.sum("mf").over(w) - F.col("mf") + F.lit(1)


def middle_median(df: DataFrame, part: str, val: str, out: str) -> DataFrame:
    """Per-``part`` median of ``val`` from the two middle ranks — never an
    engine quantile builtin (implementations differ in interpolation):
    row_number over the partition picks ranks ⌊(m+1)/2⌋ and ⌊m/2⌋+1 of
    its m rows (the same rank twice for odd m), median = (lo + hi)/2 —
    identical arithmetic in both engines. A NULL ``part`` is a real
    group. Columns: ``part``, ``{out}_n`` (m), ``out``.
    """
    w = Window.partitionBy(part).orderBy(val)
    wp = Window.partitionBy(part)
    ranked = df.select(
        part,
        F.col(val),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("m"),
    )
    lo = F.floor((F.col("m") + 1) / F.lit(2.0)).cast("long")
    hi = F.floor(F.col("m") / F.lit(2.0)).cast("long") + 1
    return ranked.groupBy(part).agg(
        F.max("m").alias(f"{out}_n"),
        (
            (
                F.sum(F.when(F.col("rn") == lo, F.col(val)))
                + F.sum(F.when(F.col("rn") == hi, F.col(val)))
            )
            / F.lit(2.0)
        ).alias(out),
    )


def _flag_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem as (grp = l_returnflag, qv = exact integer quantity)
    rows with non-NULL quantity; a NULL flag is kept (callers that
    compare literal flags filter it out, the rest treat it as a real
    group)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_returnflag").alias("grp"),
        fixed_point(F.col("l_quantity")).alias("qv"),
    ).filter(F.col("qv").isNotNull())


def _flag_qty_cells(rows: DataFrame) -> DataFrame:
    """The (grp, qv) contingency cells of :func:`_flag_qty` rows with
    their row count f — ≤ |flags|·|quantity domain| rows at ANY table
    size, so every rank, quantile and pair statistic over them is
    constant-bounded work."""
    return rows.groupBy("grp", "qv").agg(F.count(F.lit(1)).alias("f"))


# (output name, source column, fixed-point scale). Scale 100 turns the
# 2-decimal TPC-H measures into exact integers; quantity is integral.
CORR_COLS = (
    ("quantity", "l_quantity", 1),
    ("price", "l_extendedprice", 100),
    ("discount", "l_discount", 100),
    ("tax", "l_tax", 100),
)


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the four lineitem measures in ONE
    aggregate pass (no per-pair rescans, no ML-lib driver collect).

    Rows are listwise-complete (all four measures non-NULL) so every
    pair shares the same n — the contract a downstream covariance
    consumer expects. The single scan computes 4 sums + 10 product sums
    + a count with map-side combine; the 6 upper-triangle pairs are then
    stacked from that ONE 1-row frame, so the plan is one shuffle of 15
    numbers regardless of table size (100 TB posture: nothing here
    grows with rows).

    Each sum is exact: values → scaled BIGINT (one unambiguous round),
    products in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), then

        r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²) · (n·Syy − Sy²))

    evaluated once in double (identical op order in the oracle) and
    floor-rounded at 1e-6. Zero-variance columns yield NULL rather than
    an engine-dependent inf/NaN. Columns: col_x, col_y, n_rows, corr.
    """
    return _pairwise_pearson(
        _complete_measures(spark, sf_dir, CORR_COLS),
        [name for name, _, _ in CORR_COLS],
        "corr",
    )


def _contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source contingency cells of ``documents`` with marginals.

    ONE scan + ONE groupBy shuffle; the marginals (n_lang, n_source,
    n_total) come from windows over the aggregated cell table (≤
    |langs|·|sources| rows — tiny at any corpus size), NOT from
    rescanning documents (the dsir_sample multi-consumer-lineage
    lesson). NULL categories group like any other value in both
    engines, so the NULL-twin sweep exercises them as real cells.
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    return (
        cells.withColumn(
            "n_lang", F.sum("n_xy").over(Window.partitionBy("lang"))
        )
        .withColumn(
            "n_source", F.sum("n_xy").over(Window.partitionBy("source"))
        )
        .withColumn(
            "n_total",
            F.sum("n_xy").over(Window.partitionBy()),
        )
    )


def _chi2_cell() -> tuple[Column, Column]:
    """The expected count ``exp = n_lang·n_source/n_total`` of a
    :func:`_contingency` cell and its χ² term ``(n_xy − exp)²/exp`` —
    one fixed-order double chain each, mirrored in the oracles."""
    exp = (
        F.col("n_lang").cast("double")
        * F.col("n_source").cast("double")
        / F.col("n_total").cast("double")
    )
    diff = F.col("n_xy").cast("double") - exp
    return exp, diff * diff / exp


def mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell mutual-information terms between documents.lang and
    documents.source: ``(n_xy/N) · ln(n_xy·N / (n_x·n_y))``.

    Emitted per cell (the consumer sums ≤ |langs|·|sources| rows) so a
    final reduction's fold order never enters the contract — the
    psi_drift convention. Counts are exact integers from one scan; each
    term is one fixed-order IEEE chain, floor-rounded 1e-6. Cells only
    exist where n_xy ≥ 1, so the log argument is always positive.
    Columns: lang, source, n_xy, n_lang, n_source, n_total, mi_term.
    """
    cells = _contingency(spark, sf_dir)
    n_xy = F.col("n_xy").cast("double")
    n_x = F.col("n_lang").cast("double")
    n_y = F.col("n_source").cast("double")
    n = F.col("n_total").cast("double")
    term = (n_xy / n) * F.log((n_xy * n) / (n_x * n_y))
    return cells.select(
        "lang",
        "source",
        "n_xy",
        "n_lang",
        "n_source",
        "n_total",
        snap6(term).alias("mi_term"),
    )


def chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square association terms for the same lang × source
    contingency table: ``(obs − exp)² / exp`` with
    ``exp = n_x·n_y / N``.

    Same shape and discipline as :func:`mutual_info` (one scan, exact
    counts, one fixed-order float chain per row, per-cell emission).
    exp > 0 whenever a cell exists, so the division is always defined.
    Columns: lang, source, n_xy, expected, chi2_term.
    """
    exp, term = _chi2_cell()
    return _contingency(spark, sf_dir).select(
        "lang",
        "source",
        "n_xy",
        snap6(exp).alias("expected"),
        snap6(term).alias("chi2_term"),
    )


# Spearman uses the three small-domain measures (quantity 1..50,
# discount/tax at 2 decimals ~11/9 values): their joint contingency
# table is constant-bounded (< 5,000 cells) at ANY table size, so rank
# statistics never need a global row sort.
SPEARMAN_COLS = (
    ("quantity", "l_quantity", 1),
    ("discount", "l_discount", 100),
    ("tax", "l_tax", 100),
)


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlation of three lineitem measures
    WITHOUT ranking any row: rows collapse into ONE joint contingency
    table (one scan + one groupBy of < 5,000 cells at any scale), and
    every rank statistic is derived from the cells.

    With ties, Spearman is Pearson over average ranks; the average
    rank of value v is ``cum_before(v) + (freq(v)+1)/2`` — a function
    of the marginal frequency table alone. To stay integer-exact the
    code uses DOUBLED ranks ``dr(v) = 2*cum(v) − freq(v) + 1`` (an
    affine map, under which Pearson r is invariant). Each marginal
    rank map is a window over its ≤51-value marginal (single-partition
    is fine: the partition is constant-bounded, not data-bounded) and
    is broadcast back onto the cells; the 3 pairwise sufficient
    statistics then fold in one aggregate over the cells with exact
    DECIMAL sums (freq·dr·dr ≤ 4n³ < 10³⁸ far beyond sf100).

    Rows are listwise-complete across the three measures (the
    corr_matrix contract). The only float math is the final Pearson
    chain per pair, identical op order in the oracle, floor-rounded
    1e-6; zero-variance marginals yield NULL. Columns: col_x, col_y,
    n_rows, rho.
    """
    names = [name for name, _, _ in SPEARMAN_COLS]
    # cells fans out into 3 marginal derivations + the rank join —
    # without a cache the scan+groupBy would re-run per consumer (the
    # dsir_sample multi-consumer-lineage lesson). Constant-bounded
    # rows, so the cache is always tiny.
    cells = (
        _complete_measures(spark, sf_dir, SPEARMAN_COLS)
        .groupBy(*names)
        .agg(F.count(F.lit(1)).alias("f"))
        .cache()
    )
    ranked = cells
    for name in names:
        marg = cells.groupBy(name).agg(F.sum("f").alias("mf"))
        dr_map = marg.select(name, doubled_rank(name).alias(f"dr_{name}"))
        ranked = ranked.join(F.broadcast(dr_map), name)
    return _pairwise_pearson(
        ranked.select("f", *[F.col(f"dr_{n}").alias(n) for n in names]),
        names,
        "rho",
        weight=F.col("f"),
    )


# Two-sample comparison: lineitem quantities of returned ('R') vs
# accepted ('A') lines — did the return pipeline see a different
# quantity distribution? Literal group labels (never data-derived).
MW_GROUP_A = "R"
MW_GROUP_B = "A"


def mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between the ``R`` and
    ``A`` return-flag populations of ``l_quantity`` — the
    nonparametric two-sample location test, computed like
    :func:`spearman_corr`: rows collapse into a constant-bounded
    (group, value) contingency table in ONE scan + ONE groupBy, and
    every rank statistic derives from the combined marginal as exact
    integer doubled-ranks (``dr(v) = 2·cum(v) − freq(v) + 1``).

    Doubled rank-sums keep tie-averaged ranks integral: ``2·R_g =
    Σ f_{g,v}·dr(v)`` and ``2·U_g = 2·R_g − n_g(n_g+1)``. The
    tie-corrected normal approximation is one fixed-order IEEE chain
    on exact integers (tie term ``Σ(t³−t)`` accumulates in
    DECIMAL/HUGEINT — t³ overflows BIGINT past ~2M rows per value),
    floor-rounded 1e-6; degenerate variance (a group empty, or every
    value tied) yields NULL. Columns: grp_a, grp_b, n_a, n_b, u2_a,
    u2_b (doubled U statistics — exact integers), z.
    """
    rows = _flag_qty(spark, sf_dir).filter(
        F.col("grp").isin(MW_GROUP_A, MW_GROUP_B)
    )
    # cells fans out into the marginal and the rank join (the
    # spearman_corr multi-consumer shape); ≤ 2·|quantity domain| rows.
    cells = _flag_qty_cells(rows).cache()
    marg = cells.groupBy("qv").agg(F.sum("f").alias("mf"))
    md = F.col("mf").cast("decimal(12,0)")
    dr = marg.select(
        "qv",
        doubled_rank("qv").alias("dr"),
        (md * md * md - md).alias("t3t"),
    )
    j = cells.join(F.broadcast(dr), "qv")
    per = j.groupBy("grp").agg(
        F.sum("f").alias("n"),
        F.sum(
            F.col("f").cast("decimal(12,0)")
            * F.col("dr").cast("decimal(12,0)")
        ).alias("two_r"),
    )
    ties = dr.agg(F.sum("t3t").alias("ties"))
    wide = per.agg(
        F.sum(F.when(F.col("grp") == MW_GROUP_A, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("grp") == MW_GROUP_B, F.col("n"))).alias("n_b"),
        F.sum(
            F.when(F.col("grp") == MW_GROUP_A, F.col("two_r"))
        ).alias("two_r_a"),
        F.sum(
            F.when(F.col("grp") == MW_GROUP_B, F.col("two_r"))
        ).alias("two_r_b"),
    ).crossJoin(F.broadcast(ties))
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = n_a + n_b
    u2_a = F.col("two_r_a") - (
        F.col("n_a").cast("decimal(19,0)")
        * (F.col("n_a") + 1).cast("decimal(19,0)")
    )
    u2_b = F.col("two_r_b") - (
        F.col("n_b").cast("decimal(19,0)")
        * (F.col("n_b") + 1).cast("decimal(19,0)")
    )
    num = u2_a.cast("double") - n_a * n_b
    den = F.lit(2.0) * F.sqrt(
        (n_a * n_b / F.lit(12.0))
        * (
            (n + F.lit(1.0))
            - F.col("ties").cast("double") / (n * (n - F.lit(1.0)))
        )
    )
    return wide.select(
        F.lit(MW_GROUP_A).alias("grp_a"),
        F.lit(MW_GROUP_B).alias("grp_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        u2_a.cast("long").alias("u2_a"),
        u2_b.cast("long").alias("u2_b"),
        F.when(den > 0, snap6(num / den)).alias("z"),
    )


# --------------------------------------------------------------------------
# Round-13 continuation: regression / hypothesis-test / drift completions.
# Same discipline as the rest of the module: rows collapse into
# constant-bounded sufficient statistics or contingency cells in ONE scan,
# every accumulation is exact DECIMAL/HUGEINT integer arithmetic, and the
# only float math is one fixed-order IEEE chain per output row, pinned at
# 1e-6 by snap6 so the DuckDB oracles match bit-for-bit.
# --------------------------------------------------------------------------


def _type_day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts per event_type: (event_type, x = epoch day,
    y = count). NULL timestamps carry no day coordinate and are
    excluded; NULL event_type is a real series."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("event_type", day_num("ts").alias("x"))
        .agg(F.count(F.lit(1)).alias("y"))
    )


def linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of DAILY event volume: slope / intercept
    / r² of count-per-day regressed on the integer day index — the
    "is this event growing?" monitor, computed from sufficient
    statistics only.

    ONE events scan → (type, day) counts; the per-type regression then
    folds the calendar-bounded daily table (never row-bounded — at
    100 TB the per-type series is still #days long) into six exact
    sufficient statistics: n, Σx, Σy, Σxy, Σx², Σy². x is the epoch
    day (≤ ~2·10⁴ today), y a daily count (≤ ~10¹² at 100 TB/day), so
    products stay within DECIMAL(38,0) with orders of magnitude of
    headroom. NULL timestamps carry no day coordinate and are
    excluded (documented contract); NULL event_type is a real series.

    The closed forms — slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept =
    (Σy − slope·Σx)/n, r² = (nΣxy−ΣxΣy)²/((nΣx²−(Σx)²)(nΣy²−(Σy)²))
    — are each ONE double chain over those exact integers, identical
    op order in the oracle, floor-rounded 1e-6. Degenerate variance
    (single day, or constant y) yields NULL slope/r² rather than an
    engine-dependent inf/NaN.
    Columns: event_type, n_days, slope, intercept, r2.
    """
    daily = _type_day_counts(spark, sf_dir)
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    num, denx, deny = pearson_terms("n", "sx", "sy", "sxy", "sxx", "syy")
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    slope = num / denx
    return stats.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(denx > 0, snap6(slope)).alias("slope"),
        F.when(denx > 0, snap6((sy - slope * sx) / n)).alias(
            "intercept"
        ),
        F.when(
            (denx > 0) & (deny > 0), snap6(num * num / (denx * deny))
        ).alias("r2"),
    )


# ANOVA groups are the three literal return flags (never data-derived —
# the mann_whitney convention); a NULL or unexpected flag is excluded.
ANOVA_FLAGS = ("A", "N", "R")


def anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of ``l_quantity`` across the three
    return-flag populations, in ONE scan and ONE global aggregate (no
    groupBy shuffle at all: the pivot over the 3 literal flags folds
    map-side into 9 exact sums + 3 counts).

    SSB = Σ_g s_g²/n_g − S²/N and SSW = Σ_g ss_g − Σ_g s_g²/n_g are
    evaluated as one double chain over the exact DECIMAL sufficient
    statistics, with the per-group terms written in the fixed literal
    flag order (A, N, R) so both engines fold identically — group
    count is a constant 3, never data-dependent, which is what makes
    the fixed-order chain possible. F = (SSB/2)/(SSW/(N−3)),
    floor-rounded 1e-6; any empty group or zero within-variance
    yields NULL F. Columns: n_a, n_n, n_r, ssb, ssw, f_stat.
    """
    rows = _flag_qty(spark, sf_dir).filter(F.col("grp").isin(*ANOVA_FLAGS))
    qd = F.col("qv").cast("decimal(19,0)")
    aggs = []
    for flag in ANOVA_FLAGS:
        m = F.col("grp") == flag
        tag = flag.lower()
        aggs.append(F.sum(F.when(m, F.lit(1))).alias(f"n_{tag}"))
        aggs.append(F.sum(F.when(m, qd)).alias(f"s_{tag}"))
        aggs.append(F.sum(F.when(m, qd * qd)).alias(f"ss_{tag}"))
    wide = rows.agg(*aggs)

    nn = [F.col(f"n_{f.lower()}").cast("double") for f in ANOVA_FLAGS]
    ss = [F.col(f"s_{f.lower()}").cast("double") for f in ANOVA_FLAGS]
    qq = [F.col(f"ss_{f.lower()}").cast("double") for f in ANOVA_FLAGS]
    big_n = nn[0] + nn[1] + nn[2]
    big_s = ss[0] + ss[1] + ss[2]
    a_term = (
        ss[0] * ss[0] / nn[0]
        + ss[1] * ss[1] / nn[1]
        + ss[2] * ss[2] / nn[2]
    )
    ssb = a_term - big_s * big_s / big_n
    ssw = (qq[0] + qq[1] + qq[2]) - a_term
    ok = (
        F.col("n_a").isNotNull()
        & F.col("n_n").isNotNull()
        & F.col("n_r").isNotNull()
    )
    f_stat = (ssb / F.lit(2.0)) / (ssw / (big_n - F.lit(3.0)))
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_n").cast("long").alias("n_n"),
        F.col("n_r").cast("long").alias("n_r"),
        F.when(ok, snap6(ssb)).alias("ssb"),
        F.when(ok, snap6(ssw)).alias("ssw"),
        F.when(ok & (ssw > 0), snap6(f_stat)).alias("f_stat"),
    )


def kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between ``l_quantity`` and ``l_discount`` WITHOUT
    enumerating row pairs: rows collapse into the joint contingency
    table (≤ 50·11 cells at ANY scale), and the concordant/discordant
    pair counts come from ONE broadcast nested-loop self-join of that
    constant-bounded cell table — cell×cell work is bounded by the
    value domains, never by row count (the row-pair formulation would
    be O(n²) ≈ 10¹⁹ pairs at 100 TB).

    nc = Σ f·f' over cell pairs with x'<x, y'<y; nd likewise with
    y'>y (strict inequalities count each unordered row pair exactly
    once). Tie terms use doubled counts to stay integral: d1 =
    n(n−1) − Σ tx(tx−1), d2 likewise for y. All products accumulate
    in DECIMAL(38,0) (f·f' ≤ n² ≈ 4·10¹⁹ at 100 TB — 19 digits of
    headroom); τ = 2·(nc−nd)/√(d1·d2) is the single double chain,
    floor-rounded 1e-6. nc/nd are emitted as BIGINT (exact up to
    n ≈ 6·10⁹ rows per the u2 precedent; accumulation itself never
    overflows). Columns: col_x, col_y, n_rows, nc, nd, tau.
    """
    cells = (
        _complete_measures(
            spark, sf_dir, (("x", "l_quantity", 1), ("y", "l_discount", 100))
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("f"))
        .cache()
    )
    fd = F.col("f").cast("decimal(19,0)")

    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.col("f").cast("decimal(19,0)").alias("af"),
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("f").cast("decimal(19,0)").alias("bf"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("bx") < F.col("ax")) & (F.col("by") != F.col("ay")),
    )
    cd = pairs.agg(
        F.sum(
            F.when(F.col("by") < F.col("ay"), F.col("af") * F.col("bf"))
        ).alias("nc"),
        F.sum(
            F.when(F.col("by") > F.col("ay"), F.col("af") * F.col("bf"))
        ).alias("nd"),
    )

    n_tot = cells.agg(F.sum(fd).alias("n"))
    tcast = F.col("t").cast("decimal(19,0)")
    tx = (
        cells.groupBy("x")
        .agg(F.sum(fd).alias("t"))
        .agg(F.sum(tcast * (tcast - 1)).alias("tx2"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum(fd).alias("t"))
        .agg(F.sum(tcast * (tcast - 1)).alias("ty2"))
    )
    wide = (
        cd.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    nd_ = F.col("n").cast("decimal(38,0)")
    n02 = nd_ * (nd_ - 1)
    d1 = (n02 - F.col("tx2")).cast("double")
    d2 = (n02 - F.col("ty2")).cast("double")
    nc = F.coalesce(F.col("nc"), F.lit(0)).cast("double")
    ndis = F.coalesce(F.col("nd"), F.lit(0)).cast("double")
    tau = F.lit(2.0) * (nc - ndis) / F.sqrt(d1 * d2)
    return wide.select(
        F.lit("quantity").alias("col_x"),
        F.lit("discount").alias("col_y"),
        F.col("n").cast("long").alias("n_rows"),
        F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("nc"),
        F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("nd"),
        F.when((d1 > 0) & (d2 > 0), snap6(tau)).alias("tau"),
    )


def ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the ``R`` and ``A``
    return-flag populations of ``l_quantity`` — the distribution-drift
    companion to :func:`mann_whitney` (location), from the same
    constant-bounded (group, value) contingency table in ONE scan.

    The ECDF gap is kept EXACT by cross-multiplication: at each value
    v, ``gap(v) = |cum_a(v)·n_b − cum_b(v)·n_a|`` is an exact
    DECIMAL integer (≤ n_a·n_b ≈ 10²⁴ at 100 TB — inside 38 digits),
    and D = max gap / (n_a·n_b) divides only at the very end. The
    cumulative windows run over the ≤|value domain| pivoted cell
    table, never over rows. ks_stat = D·√(n_a·n_b/(n_a+n_b)) is the
    one double chain, floor-rounded 1e-6; an empty side yields NULL
    stats. Columns: grp_a, grp_b, n_a, n_b, d_stat, ks_stat.
    """
    rows = _flag_qty(spark, sf_dir).filter(
        F.col("grp").isin(MW_GROUP_A, MW_GROUP_B)
    )
    piv = _flag_qty_cells(rows).groupBy("qv").agg(
        F.sum(F.when(F.col("grp") == MW_GROUP_A, F.col("f")).otherwise(0))
        .alias("fa"),
        F.sum(F.when(F.col("grp") == MW_GROUP_B, F.col("f")).otherwise(0))
        .alias("fb"),
    )
    w = Window.orderBy("qv").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = piv.select(
        F.sum("fa").over(w).cast("decimal(38,0)").alias("ca"),
        F.sum("fb").over(w).cast("decimal(38,0)").alias("cb"),
        F.sum("fa").over(wall).cast("decimal(38,0)").alias("n_a"),
        F.sum("fb").over(wall).cast("decimal(38,0)").alias("n_b"),
    )
    gap = F.abs(
        F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
    )
    top = cum.agg(
        F.max(gap).alias("d_num"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    d = F.col("d_num").cast("double") / (na * nb)
    ks = d * F.sqrt(na * nb / (na + nb))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return top.select(
        F.lit(MW_GROUP_A).alias("grp_a"),
        F.lit(MW_GROUP_B).alias("grp_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(ok, snap6(d)).alias("d_stat"),
        F.when(ok, snap6(ks)).alias("ks_stat"),
    )


ACF_MAX_LAG = 7


def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the DAILY total event volume at lags 1..7 —
    the seasonality probe behind ``seasonal_naive``'s period choice.

    ONE events scan → the calendar-bounded daily series (day → count,
    exact integers); lag pairing is by DAY ARITHMETIC (t, t+L), not
    row offset, so calendar gaps produce no pair rather than a wrong
    pair (documented contract; NULL timestamps are excluded). One
    lags×series broadcast expansion + one self-join on the computed
    day key yields every (y_t, y_{t+L}) pair; per-lag Pearson r then
    folds the pairs into six exact DECIMAL sufficient statistics
    (the corr_matrix chain, floor-rounded 1e-6). The series is cached
    across its two join consumers (multi-consumer-lineage lesson).
    Degenerate lags (<2 pairs or zero variance) yield NULL.
    Columns: lag, n_pairs, acf.
    """
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(day_num("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .cache()
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = series.crossJoin(F.broadcast(lags)).select(
        "lag",
        (F.col("day") + F.col("lag")).alias("jday"),
        F.col("y").alias("y0"),
    )
    b = series.select(F.col("day").alias("jday"), F.col("y").alias("y1"))
    pairs = a.join(b, "jday")
    y0 = F.col("y0").cast("decimal(19,0)")
    y1 = F.col("y1").cast("decimal(19,0)")
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(y0).alias("sx"),
        F.sum(y1).alias("sy"),
        F.sum(y0 * y1).alias("sxy"),
        F.sum(y0 * y0).alias("sxx"),
        F.sum(y1 * y1).alias("syy"),
    )
    num, denx, deny = pearson_terms("m", "sx", "sy", "sxy", "sxx", "syy")
    den = F.sqrt(denx * deny)
    return stats.select(
        "lag",
        F.col("m").alias("n_pairs"),
        F.when((F.col("m") > 1) & (den > 0), snap6(num / den)).alias(
            "acf"
        ),
    )


# log10(1 + 1/d) for d = 1..9, written as 17-significant-digit literals
# INJECTED VERBATIM into both the Spark plan and the DuckDB oracle —
# the only way a transcendental constant is bit-identical across
# engines (the naive_bayes_lang lesson: libm ulp drift is real).
BENFORD_EXPECTED = {
    d: f"{math.log10(1.0 + 1.0 / d):.17g}" for d in range(1, 10)
}


def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance profile of ``l_extendedprice``: the
    observed first-significant-digit distribution vs log10(1+1/d),
    with per-digit chi-square terms — the classic synthetic-data /
    fraud data-quality probe.

    The first digit is extracted EXACTLY: price → integer cents (one
    unambiguous round; prices are 2-decimal fixed-point) → leading
    character of the decimal string. No log10 of data ever runs —
    float logs near power-of-10 boundaries misclassify digits, and
    the 9 expected shares are compile-time literals shared verbatim
    with the oracle. ONE scan + ONE ≤9-cell groupBy; marginal total
    via a window over the cells. Non-positive/NULL prices are
    excluded. Per-digit emission (the mutual_info convention) keeps
    any final fold out of the contract.
    Columns: digit, n_obs, n_total, expected_n, chi2_term.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = fixed_point(F.col("l_extendedprice"), 100)
    digits = (
        li.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    cells = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    expected = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        expected = F.when(
            F.col("digit") == d, F.lit(float(BENFORD_EXPECTED[d]))
        ).otherwise(expected)
    wall = Window.partitionBy()
    out = cells.withColumn("n_total", F.sum("n_obs").over(wall))
    exp_n = F.col("n_total").cast("double") * expected
    diff = F.col("n_obs").cast("double") - exp_n
    return out.select(
        "digit",
        "n_obs",
        "n_total",
        snap6(exp_n).alias("expected_n"),
        snap6(diff * diff / exp_n).alias("chi2_term"),
    )


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily event volume per event_type:
    slope = median of all pairwise day-slopes, intercept = median of
    the residuals under that slope — the outlier-proof companion to
    :func:`linreg_trend` (one spiked day drags OLS, not the median).

    The pair set is CALENDAR-bounded: C(#days, 2) per type regardless
    of row count, so the self-join and the per-type rank windows never
    grow with data volume (30 days → 435 pairs; 10 years → ~6.7M,
    still constant w.r.t. rows). The daily series is cached across
    its three consumers (pair join ×2 sides, residual join). Both
    medians are :func:`middle_median` over the per-type partition;
    each pair slope is a single IEEE division, identical op order.
    NULL event_type is a real series (null-safe join keys); types
    with a single day have no pairs and are absent. Outputs
    floor-rounded 1e-6.
    Columns: event_type, n_days, n_pairs, slope, intercept.
    """
    daily = _type_day_counts(spark, sf_dir).cache()
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = a.join(
        b,
        F.col("et").eqNullSafe(F.col("et2")) & (F.col("x1") < F.col("x2")),
    ).select(
        "et",
        (
            (F.col("y2").cast("double") - F.col("y1").cast("double"))
            / (F.col("x2").cast("double") - F.col("x1").cast("double"))
        ).alias("sl"),
    )

    med = middle_median(pairs, "et", "sl", "med")
    res = (
        daily.join(
            F.broadcast(med), F.col("event_type").eqNullSafe(F.col("et"))
        )
        .select(
            F.col("et").alias("ret"),
            (
                F.col("y").cast("double")
                - F.col("med") * F.col("x").cast("double")
            ).alias("r"),
        )
    )
    interc = middle_median(res, "ret", "r", "imed")
    n_days = daily.groupBy(
        F.col("event_type").alias("det")
    ).agg(F.count(F.lit(1)).alias("n_days"))
    return (
        med.join(F.broadcast(interc), F.col("et").eqNullSafe(F.col("ret")))
        .join(F.broadcast(n_days), F.col("et").eqNullSafe(F.col("det")))
        .select(
            F.col("et").alias("event_type"),
            "n_days",
            F.col("med_n").alias("n_pairs"),
            snap6(F.col("med")).alias("slope"),
            snap6(F.col("imed")).alias("intercept"),
        )
    )


# Dyadic trim fraction: 1/16 per side. Deliberately a power of two so
# k = floor(n/16) is FP-exact for every n (the dedup_containment
# threshold lesson applied to quantile arithmetic).
TRIM_FRAC = 0.0625


def trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag TRIMMED mean of ``l_quantity`` (1/16 clipped
    from each tail) computed entirely from the constant-bounded
    (group, value) contingency marginal — no row ever sorts: the
    kept-count of each value cell is derived from the running
    cumulative by interval clipping,

        kept(v) = max(0, min(cum(v), n−k) − max(cum(v)−f(v), k)),

    an exact integer per cell, so Σ kept·v and n−2k are exact and the
    mean is ONE double division (the engine-quantile builtins never
    enter — they disagree on interpolation across engines). The
    row-sort formulation would be a global sort at 100 TB; this is
    one scan + one ≤|groups|·|values| groupBy. NULL quantities are
    excluded; NULL flags form a real group. k uses the dyadic 1/16 so
    floor(n·frac) never rounds across an integer boundary.
    Columns: grp, n, k_trim, n_kept, mean_all, mean_trimmed.
    """
    cells = _flag_qty_cells(_flag_qty(spark, sf_dir))
    wg = Window.partitionBy("grp")
    wcum = wg.orderBy("qv").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cum = cells.select(
        "grp",
        "qv",
        "f",
        F.sum("f").over(wcum).alias("cum"),
        F.sum("f").over(wg).alias("n"),
        F.sum(
            F.col("f").cast("decimal(19,0)") * F.col("qv").cast("decimal(19,0)")
        ).over(wg).alias("s_all"),
    )
    k = F.floor(F.col("n") * F.lit(TRIM_FRAC)).cast("long")
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("f"), k),
    )
    return (
        with_cum.groupBy("grp")
        .agg(
            F.max("n").alias("n"),
            F.max(k).alias("k_trim"),
            F.sum(kept).alias("n_kept"),
            F.max("s_all").alias("s_all"),
            F.sum(
                kept.cast("decimal(19,0)") * F.col("qv").cast("decimal(19,0)")
            ).alias("s_kept"),
        )
        .select(
            "grp",
            "n",
            "k_trim",
            "n_kept",
            snap6(
                F.col("s_all").cast("double") / F.col("n").cast("double")
            ).alias("mean_all"),
            F.when(
                F.col("n_kept") > 0,
                snap6(
                    F.col("s_kept").cast("double")
                    / F.col("n_kept").cast("double")
                ),
            ).alias("mean_trimmed"),
        )
    )


# Iglewicz-Hoaglin modified-z constants, injected as identical literals
# into both engines (the benford_digits convention).
MODIFIED_Z_SCALE = 0.6745
MODIFIED_Z_CUTOFF = 3.5


def robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier score for daily event volume per event_type —
    the robust companion to ``anomaly_zscore`` (one spiked day drags a
    mean+stddev z; the median and MAD ignore it).

    Modified z = 0.6745·(y − median)/MAD (Iglewicz–Hoaglin), flagged
    at |z| > 3.5. Both medians are :func:`middle_median` (explicit
    middle ranks, never an engine quantile builtin) over the
    CALENDAR-bounded daily table; the daily series
    and the deviation frame are cached across their two consumers
    each. A type with MAD = 0 (more than half its days at the median)
    yields NULL z — never an engine-dependent inf. NULL event_type is
    a real series; the NULL-day row of docs with NULL ts groups as in
    cusum_changepoint. Columns: event_type, day, n_events, rz,
    is_outlier.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y")).cache()

    med = middle_median(
        daily.select("event_type", F.col("y").cast("double").alias("yv")),
        "event_type",
        "yv",
        "med",
    ).withColumnRenamed("event_type", "met")
    dev = (
        daily.join(
            F.broadcast(med), F.col("event_type").eqNullSafe(F.col("met"))
        )
        .select(
            "event_type",
            "day",
            "y",
            "med",
            F.abs(F.col("y").cast("double") - F.col("med")).alias("ad"),
        )
        .cache()
    )
    mad = middle_median(dev, "event_type", "ad", "mad").withColumnRenamed(
        "event_type", "mt"
    )
    rz = (
        F.lit(MODIFIED_Z_SCALE)
        * (F.col("y").cast("double") - F.col("med"))
        / F.col("mad")
    )
    return (
        dev.join(F.broadcast(mad), F.col("event_type").eqNullSafe(F.col("mt")))
        .select(
            "event_type",
            "day",
            F.col("y").alias("n_events"),
            F.when(F.col("mad") > 0, snap6(rz)).alias("rz"),
            F.when(F.col("mad") > 0, F.abs(rz) > MODIFIED_Z_CUTOFF).alias(
                "is_outlier"
            ),
        )
    )


def gini_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of ``l_quantity`` per return flag via the
    mean-absolute-difference identity G = Σᵤᵥ fᵤfᵥ|u−v| / (2nS) —
    computed cell×cell over the constant-bounded (group, value)
    contingency table (≤ groups·50² products at ANY row count), never
    by the classic sorted-cumulative formulation (a global row sort
    at 100 TB). Every term is an exact DECIMAL integer (fᵤfᵥ|u−v| ≤
    50·n² — inside 38 digits to ~10¹⁷ rows); the single double chain
    N/(2·n·S) divides at the end. Empty or zero-sum groups yield
    NULL. NULL quantities are excluded; NULL flags form a real group.
    Columns: grp, n, sum_qty, gini.
    """
    cells = _flag_qty_cells(_flag_qty(spark, sf_dir)).cache()
    a = cells.select(
        F.col("grp").alias("g1"), F.col("qv").alias("v1"),
        F.col("f").cast("decimal(19,0)").alias("f1"),
    )
    b = cells.select(
        F.col("grp").alias("g2"), F.col("qv").alias("v2"),
        F.col("f").cast("decimal(19,0)").alias("f2"),
    )
    num = (
        a.join(F.broadcast(b), F.col("g1").eqNullSafe(F.col("g2")))
        .groupBy(F.col("g1").alias("grp"))
        .agg(
            F.sum(
                F.col("f1")
                * F.col("f2")
                * F.abs(F.col("v1") - F.col("v2")).cast("decimal(19,0)")
            ).alias("mad_num")
        )
    )
    tot = cells.groupBy("grp").agg(
        F.sum("f").alias("n"),
        F.sum(
            F.col("f").cast("decimal(19,0)") * F.col("qv").cast("decimal(19,0)")
        ).alias("s"),
    )
    j = tot.join(
        F.broadcast(num.withColumnRenamed("grp", "ngrp")),
        F.col("grp").eqNullSafe(F.col("ngrp")),
    )
    gini = F.col("mad_num").cast("double") / (
        F.lit(2.0) * F.col("n").cast("double") * F.col("s").cast("double")
    )
    return j.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("sum_qty"),
        F.when((F.col("n") > 0) & (F.col("s") > 0), snap6(gini)).alias(
            "gini"
        ),
    )


def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-revenue concentration per supplier
    nation: HHI = Σᵢ(rᵢ/R)² = Σrᵢ²/R², computed as exact integer-cent
    sums with ONE double division per nation at the end (never
    per-supplier float shares, whose fold order would enter the
    contract). One lineitem scan + a broadcast supplier-dim join +
    two map-side-combinable aggregations; nothing grows beyond
    (nation, supplier) cardinality. NULL revenue rows are excluded.
    Columns: nationkey, n_suppliers, revenue_cents, hhi.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.col("s_nationkey").alias("nationkey")
    )
    cents = fixed_point(F.col("l_extendedprice"), 100)
    per_sup = (
        li.select(F.col("l_suppkey").alias("s_suppkey"), cents.alias("c"))
        .filter(F.col("c").isNotNull())
        .join(F.broadcast(sup), "s_suppkey")
        .groupBy("nationkey", "s_suppkey")
        .agg(F.sum(F.col("c").cast("decimal(19,0)")).alias("r"))
    )
    rd = F.col("r").cast("decimal(19,0)")
    per_nat = per_sup.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("rev"),
        F.sum(rd * rd).alias("r2"),
    )
    hhi = F.col("r2").cast("double") / (
        F.col("rev").cast("double") * F.col("rev").cast("double")
    )
    return per_nat.select(
        "nationkey",
        "n_suppliers",
        F.col("rev").cast("long").alias("revenue_cents"),
        F.when(F.col("rev") > 0, snap6(hhi)).alias("hhi"),
    )


def pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share of the top-quartile customers per market segment —
    the "80/20" concentration probe. Customer spend aggregates first
    (orders collapse to ≤|customers| rows — the only window input),
    then a per-segment rank over (spend DESC, custkey ASC — total
    order) marks the top k = floor(C/4) customers (dyadic quarter:
    C·0.25 is FP-exact for any C). share = top_cents/total_cents is
    exact integer cents with ONE division. Segments with C < 4 (k=0)
    yield share NULL. Customers without orders don't appear in spend
    (inner semantics documented); NULL segments form a real group.
    Columns: mktsegment, n_customers, k_top, top_cents, total_cents,
    share.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    cents = fixed_point(F.col("o_totalprice"), 100)
    spend = (
        orders.select(F.col("o_custkey").alias("c_custkey"), cents.alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy("c_custkey")
        .agg(F.sum(F.col("c").cast("decimal(19,0)")).alias("spend"))
        .join(F.broadcast(cust), "c_custkey")
    )
    w = Window.partitionBy("mktsegment").orderBy(
        F.col("spend").desc(), F.col("c_custkey").asc()
    )
    wp = Window.partitionBy("mktsegment")
    ranked = spend.select(
        "mktsegment",
        "spend",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    k = F.floor(F.col("cnt") * F.lit(0.25)).cast("long")
    agg = ranked.groupBy("mktsegment").agg(
        F.max("cnt").alias("n_customers"),
        F.max(k).alias("k_top"),
        F.sum(F.when(F.col("rn") <= k, F.col("spend"))).alias("top"),
        F.sum("spend").alias("tot"),
    )
    share = F.col("top").cast("double") / F.col("tot").cast("double")
    return agg.select(
        "mktsegment",
        "n_customers",
        "k_top",
        F.coalesce(F.col("top"), F.lit(0)).cast("long").alias("top_cents"),
        F.col("tot").cast("long").alias("total_cents"),
        F.when(F.col("k_top") > 0, snap6(share)).alias("share"),
    )


# ---------------------------------------------------------------------------
# Round-14 continuation: two-sample inference, effect size, and higher
# moments. Same discipline as everything above: exact DECIMAL/HUGEINT
# sufficient statistics from ONE scan, one fixed-order double chain per
# output row (mirrored verbatim in the oracle), floor-rounded 1e-6.
# ---------------------------------------------------------------------------

def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Welch two-sample t-test of ``events.value`` between every
    pair of event types — the unequal-variance A/B primitive (metric
    differs between event classes?) run as one grid, not per-pair jobs.

    ONE events scan → per-group exact sufficient statistics (n, Σx, Σx²
    over the value scaled to integer hundredths; sums in DECIMAL /
    HUGEINT — zero rounding, order-free), then a broadcast self-join of
    the ≤|event_types| aggregate rows builds the pair grid. t and the
    Welch–Satterthwaite df are scale-invariant (numerator and standard
    error both scale by 100), so the double chain runs in scaled units;
    only the emitted means divide back. At 100 TB the shuffle carries
    |event_types| rows of 3 numbers — nothing grows with the fact table.

    Groups with n < 2 have no sample variance and are dropped (their
    pairs are undefined, not zero); NULL values are excluded; NULL
    event_type is a real group via the ``<null>`` sentinel. t is NULL
    when both variances are 0 (se² = 0 — equal-constant groups).
    Columns: type_a, type_b, n_a, n_b, mean_a, mean_b, t_stat, welch_df.
    """
    ev = load_table(spark, sf_dir, "events")
    x = fixed_point(F.col("value"), 100)
    d = F.col("x").cast("decimal(19,0)")
    g = (
        ev.select(
            # NULL event_type is a real group (NULL_CLASS): the pair
            # self-join compares labels with <, which drops a NULL key
            or_null_class(F.col("event_type")).alias("grp"),
            x.alias("x"),
        )
        .filter(F.col("x").isNotNull())
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d).alias("s"),
            F.sum(d * d).alias("q"),
        )
        .filter(F.col("n") >= 2)
        # cached: the pair self-join consumes g on BOTH sides — without
        # it each aliased branch re-scans events (≤|event_types| rows)
        .cache()
    )

    def _stats(side: str) -> DataFrame:
        return g.select(
            F.col("grp").alias(f"type_{side}"),
            F.col("n").alias(f"n_{side}"),
            F.col("s").cast("double").alias(f"s_{side}"),
            F.col("q").cast("double").alias(f"q_{side}"),
        )

    pairs = _stats("a").join(
        F.broadcast(_stats("b")), F.col("type_a") < F.col("type_b")
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("s_a") / na  # scaled-unit means
    mb = F.col("s_b") / nb
    va = (F.col("q_a") - F.col("s_a") * F.col("s_a") / na) / (na - F.lit(1.0))
    vb = (F.col("q_b") - F.col("s_b") * F.col("s_b") / nb) / (nb - F.lit(1.0))
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        snap6(ma / F.lit(100.0)).alias("mean_a"),
        snap6(mb / F.lit(100.0)).alias("mean_b"),
        F.when(se2 > 0, snap6(t)).alias("t_stat"),
        F.when(se2 > 0, snap6(df)).alias("welch_df"),
    )


def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size of the documents lang × source association
    — the bounded [0,1] companion to :func:`chi_square_assoc`'s per-cell
    terms: V = √(χ² / (N·(min(r,c)−1))).

    Reuses the ONE-scan contingency table; χ² folds the per-cell terms
    in explicit (lang, source) order from 0.0 after snapping each term
    to the 1e-6 grid (the naive_bayes ranking rule: a raw-double SUM's
    fold order would enter the contract — cells are ≤ |langs|·|sources|,
    so the collected fold array is category-scale, never corpus-scale).
    Category counts r and c include NULL as a real category (counted
    via sentinel-coalesced collect_set — COUNT DISTINCT drops NULLs in
    both engines). V is NULL when the table is degenerate (N = 0 or
    min(r,c) < 2 — zero denominator). Always exactly ONE output row.
    Columns: n_langs, n_sources, n_total, chi2, cramers_v.
    """
    _, term = _chi2_cell()
    kl = or_null_class(F.col("lang"))
    ks = or_null_class(F.col("source"))
    pre = _contingency(spark, sf_dir).select(
        kl.alias("kl"),
        ks.alias("ks"),
        snap6(term).alias("term"),
        F.col("n_total"),
    )
    agg = pre.agg(
        F.size(F.collect_set("kl")).cast("long").alias("n_langs"),
        F.size(F.collect_set("ks")).cast("long").alias("n_sources"),
        F.coalesce(F.max("n_total"), F.lit(0)).cast("long").alias("n_total"),
        F.array_sort(
            F.collect_list(F.struct("kl", "ks", "term"))
        ).alias("ts"),
    )
    chi2 = fold_sum(F.col("ts"), lambda x: x["term"])
    denom = F.col("n_total").cast("double") * (
        F.least("n_langs", "n_sources").cast("double") - F.lit(1.0)
    )
    return agg.select(
        "n_langs",
        "n_sources",
        "n_total",
        snap6(chi2).alias("chi2"),
        F.when(
            (F.col("n_total") > 0)
            & (F.least("n_langs", "n_sources") >= 2),
            snap6(F.sqrt(chi2 / denom)),
        ).alias("cramers_v"),
    )


def moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness, excess-free kurtosis, and the Jarque–Bera normality
    statistic of ``events.value`` per event type — the higher-moment
    distribution profile a feature-audit pass runs next to mean/stddev.

    ONE scan; per group the four raw power sums Σx..Σx⁴ accumulate
    exactly (value scaled to integer hundredths; x² stays inside BIGINT
    at 490.02 max, x⁴ = x²·x² inside DECIMAL(38,0)/HUGEINT to ~10¹⁹
    rows). Central moments come from the standard raw-moment expansion
    in ONE double chain per group, mirrored token-for-token in the
    oracle; skewness m₃/(m₂√m₂) and kurtosis m₄/m₂² are invariant
    under the ×100 scaling (standardized moments), so no unscaling
    enters their chains — only the emitted mean divides back. sqrt is
    IEEE-correctly-rounded (pow is NOT — never pow(m2, 1.5)).

    Groups with n < 2 or zero variance emit NULL statistics; NULL
    values are excluded; NULL event_type is a real group. JB =
    (n/6)·(S² + (K−3)²/4). Columns: event_type, n_events, mean_value,
    skewness, kurtosis, jarque_bera.
    """
    ev = load_table(spark, sf_dir, "events")
    x = fixed_point(F.col("value"), 100)
    base = ev.select(F.col("event_type"), x.alias("x")).filter(
        F.col("x").isNotNull()
    )
    xd = F.col("x").cast("decimal(19,0)")
    # x² in DECIMAL end-to-end (ADVICE r14): a BIGINT x*x silently
    # wraps past |x| ~3e9 where the oracle's BIGINT multiply raises —
    # DECIMAL keeps the Spark side exact far past any value the ×100
    # scaling can produce (in-domain max |x| is 49002), so the two
    # engines can only diverge where BOTH are out of decimal range.
    x2 = (xd * xd).alias("x2")
    g = base.select("event_type", "x", x2).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(xd * F.col("x2")).alias("s3"),
        F.sum(F.col("x2") * F.col("x2")).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - m * m
    m3 = r3 - F.lit(3.0) * m * r2 + F.lit(2.0) * m * m * m
    m4 = (
        r4
        - F.lit(4.0) * m * r3
        + F.lit(6.0) * m * m * r2
        - F.lit(3.0) * m * m * m * m
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2)
    jb = (n / F.lit(6.0)) * (
        skew * skew
        + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0)
    )
    ok = (F.col("n") >= 2) & (m2 > 0)
    return g.select(
        "event_type",
        F.col("n").alias("n_events"),
        snap6(m / F.lit(100.0)).alias("mean_value"),
        F.when(ok, snap6(skew)).alias("skewness"),
        F.when(ok, snap6(kurt)).alias("kurtosis"),
        F.when(ok, snap6(jb)).alias("jarque_bera"),
    )


def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profile of ``l_quantity`` per return flag:
    exact type-7 quartiles, IQR, and the count of rows beyond the
    1.5·IQR fences — the box-plot audit, computed ENTIRELY in integer
    arithmetic (no row sort, no float comparisons anywhere).

    Quartiles come from the domain-bounded (group, value) cell table
    (the spearman/gini contingency trick — ≤ 50 cells per group at ANY
    row count): cumulative cell offsets locate the two bracketing
    values of index h = (n−1)·p, and the type-7 interpolation is kept
    as the EXACT INTEGER 4·q = 4·v_lo + rem·(v_hi − v_lo) (rem =
    4h mod 4). Fence tests clear denominators the same way:
    8·v < 2·(4q₁) − 3·IQR₄ — pure BIGINT inequalities, so outlier
    counts cannot sit on a float boundary. Emitted q1/q3/iqr divide
    the exact quarters by 4.0 (dyadic — FP-exact). NULL quantities are
    excluded; NULL flags form a real group; a 1-row group has q1 = q3
    and zero outliers. Columns: grp, n, q1, q3, iqr, n_low, n_high.
    """
    cells = _flag_qty_cells(_flag_qty(spark, sf_dir)).cache()
    wg = Window.partitionBy("grp")
    wcum = wg.orderBy("qv").rowsBetween(Window.unboundedPreceding, -1)
    c2 = cells.select(
        "grp",
        "qv",
        "f",
        F.coalesce(F.sum("f").over(wcum), F.lit(0)).alias("cb"),
        F.sum("f").over(wg).alias("n"),
    )
    h1 = F.expr("(n - 1) div 4")
    r1 = (F.col("n") - 1) % 4
    h3 = F.expr("(3 * (n - 1)) div 4")
    r3 = (3 * (F.col("n") - 1)) % 4

    def vat(k: F.Column, name: str) -> F.Column:
        return F.max(F.when(F.col("cb") <= k, F.col("qv"))).alias(name)

    qs = c2.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max(r1).alias("r1"),
        F.max(r3).alias("r3"),
        vat(h1, "vf1"),
        vat(h1 + F.least(r1, F.lit(1)), "vc1"),
        vat(h3, "vf3"),
        vat(h3 + F.least(r3, F.lit(1)), "vc3"),
    )
    q1_4 = (
        F.lit(4) * F.col("vf1") + F.col("r1") * (F.col("vc1") - F.col("vf1"))
    )
    q3_4 = (
        F.lit(4) * F.col("vf3") + F.col("r3") * (F.col("vc3") - F.col("vf3"))
    )
    fenced = qs.select(
        "grp",
        "n",
        q1_4.alias("q1_4"),
        q3_4.alias("q3_4"),
        (q3_4 - q1_4).alias("iqr_4"),
    )
    j = cells.join(
        F.broadcast(fenced.withColumnRenamed("grp", "fgrp")),
        F.col("grp").eqNullSafe(F.col("fgrp")),
    )
    lo = F.lit(2) * F.col("q1_4") - F.lit(3) * F.col("iqr_4")
    hi = F.lit(2) * F.col("q3_4") + F.lit(3) * F.col("iqr_4")
    v8 = F.lit(8) * F.col("qv")
    out = j.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.col("q1_4").cast("double") / F.lit(4.0)).alias("q1"),
        F.max(F.col("q3_4").cast("double") / F.lit(4.0)).alias("q3"),
        F.max(F.col("iqr_4").cast("double") / F.lit(4.0)).alias("iqr"),
        F.sum(F.when(v8 < lo, F.col("f")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(v8 > hi, F.col("f")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_high"),
    )
    return out
