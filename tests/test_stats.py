"""Statistical-profiling operators (operators/stats.py): independent
math checks on top of the mirrored-expression oracle in
test_oracle_diff.py — these compare against DuckDB's own corr()/chi2
formulations computed a DIFFERENT way, so an error in the shared
sufficient-statistics algebra (which a mirrored oracle would replicate)
fails here.
"""

from __future__ import annotations

import math

from bigdata1_spark.operators import stats as stats_ops

SRC = {"quantity": "l_quantity", "price": "l_extendedprice",
       "discount": "l_discount", "tax": "l_tax"}


def test_corr_matrix_matches_duckdb_builtin(spark, duck, sf_dir):
    """Our one-pass scaled-integer r vs DuckDB's builtin corr() over the
    raw doubles (Welford-style, different algorithm AND different
    scaling) — agreement within 1e-6 validates the algebra itself."""
    rows = {(r.col_x, r.col_y): r for r in
            stats_ops.corr_matrix(spark, sf_dir).collect()}
    assert len(rows) == 6
    for (cx, cy), r in rows.items():
        ref = duck.execute(
            f"SELECT corr({SRC[cx]}, {SRC[cy]}) FROM lineitem "
            f"WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL "
            f"AND l_discount IS NOT NULL AND l_tax IS NOT NULL"
        ).fetchone()[0]
        assert r.corr is not None and abs(r.corr - ref) < 1e-6, (cx, cy)
        assert -1.0 <= r.corr <= 1.0


def test_corr_matrix_single_n(spark, sf_dir):
    """Listwise deletion contract: every pair reports the same n."""
    ns = {r.n_rows for r in stats_ops.corr_matrix(spark, sf_dir).collect()}
    assert len(ns) == 1 and ns.pop() > 0


def test_mutual_info_nonnegative_and_marginals(spark, sf_dir):
    """MI of any joint distribution is >= 0; marginals must re-sum to
    the total within each partition of the cell table."""
    rows = stats_ops.mutual_info(spark, sf_dir).collect()
    assert rows
    n_total = rows[0].n_total
    assert all(r.n_total == n_total for r in rows)
    assert sum(r.n_xy for r in rows) == n_total
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, (r.n_lang, []))[1].append(r.n_xy)
    for lang, (n_lang, cells) in by_lang.items():
        assert sum(cells) == n_lang, lang
    mi = sum(r.mi_term for r in rows)
    assert mi >= -len(rows) * 5e-7  # rounding slack only


def test_chi_square_matches_direct_formula(spark, duck, sf_dir):
    """Summed chi2 vs a from-scratch DuckDB computation (independent
    query shape: scalar subqueries, no windows)."""
    rows = stats_ops.chi_square_assoc(spark, sf_dir).collect()
    assert all(r.chi2_term >= 0 for r in rows)
    got = sum(r.chi2_term for r in rows)
    ref = duck.execute(
        """
        WITH c AS (SELECT lang, source, COUNT(*)::DOUBLE AS o
                   FROM documents GROUP BY 1, 2),
        lx AS (SELECT lang, SUM(o) AS nl FROM c GROUP BY 1),
        sx AS (SELECT source, SUM(o) AS ns FROM c GROUP BY 1),
        t AS (SELECT SUM(o) AS n FROM c)
        SELECT SUM((o - nl * ns / n) * (o - nl * ns / n) / (nl * ns / n))
        FROM c JOIN lx USING (lang) JOIN sx USING (source), t
        """
    ).fetchone()[0]
    assert math.isfinite(got) and abs(got - ref) < len(rows) * 1e-6


def test_stats_scan_budgets(spark, sf_dir):
    """Each operator reads its base table exactly once (the contingency
    marginals come from windows over the aggregated cell table, not a
    rescan)."""
    from tests.test_plans import _unique_scan_count

    assert _unique_scan_count(stats_ops.corr_matrix(spark, sf_dir)) == 1
    assert _unique_scan_count(stats_ops.mutual_info(spark, sf_dir)) == 1
    assert _unique_scan_count(
        stats_ops.chi_square_assoc(spark, sf_dir)
    ) == 1


def test_spearman_matches_pandas(spark, duck, sf_dir):
    """Our contingency-table Spearman (doubled average ranks, never a
    row-level rank) vs pandas' corr(method='spearman') over per-row
    ranks of the raw doubles — a fully independent algorithm; ranks are
    invariant under the fixed-point scaling, so values must agree."""
    pdf = duck.execute(
        """
        SELECT l_quantity AS quantity, l_discount AS discount,
               l_tax AS tax
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          AND l_tax IS NOT NULL
        """
    ).df()
    ref = pdf.corr(method="spearman")
    rows = {(r.col_x, r.col_y): r for r in
            stats_ops.spearman_corr(spark, sf_dir).collect()}
    assert len(rows) == 3
    n = len(pdf)
    for (cx, cy), r in rows.items():
        assert r.n_rows == n
        assert r.rho is not None and abs(r.rho - ref.loc[cx, cy]) < 1e-6
        assert -1.0 <= r.rho <= 1.0


def test_spearman_scan_budget(spark, sf_dir):
    """One lineitem scan: marginals and rank maps all derive from the
    cached cell table, never a rescan."""
    from tests.test_plans import _unique_scan_count

    # <= because a prior test's materialized cells cache planes the
    # whole subtree as InMemoryTableScan (0 parquet scans).
    assert _unique_scan_count(stats_ops.spearman_corr(spark, sf_dir)) <= 1


def test_rrf_fusion_recomputes_from_member_lists(spark, sf_dir):
    """Every fused row's rrf must equal the formula re-applied to the
    ranks it reports, every doc must come from at least one retriever
    list, and the emitted rnk must be consistent with rrf ordering."""
    from bigdata1_spark.operators.ir import RRF_C, RRF_TOP_K, rrf_fusion

    rows = sorted(rrf_fusion(spark, sf_dir).collect(), key=lambda r: r.rnk)
    assert 0 < len(rows) <= RRF_TOP_K
    prev = None
    for r in rows:
        assert r.lex_rnk is not None or r.dense_rnk is not None
        want = 0.0
        if r.lex_rnk is not None:
            want += 1.0 / (RRF_C + r.lex_rnk)
        if r.dense_rnk is not None:
            want += 1.0 / (RRF_C + r.dense_rnk)
        assert abs(r.rrf - want) < 2e-6, r
        if prev is not None:
            assert prev >= r.rrf - 2e-6  # non-increasing in rank order
        prev = r.rrf


def test_naive_bayes_matches_pure_python(spark, duck, sf_dir):
    """Full independent reimplementation of the classifier in plain
    Python dicts (no DataFrames, no SQL): same tokenizer contract, same
    Laplace smoothing, same 1e-6 ln-grid snap, same word-order fold and
    (score desc, class asc) argmax — the confusion matrices must be
    identical cell-for-cell."""
    import math
    import re as _re

    from bigdata1_spark.operators.basket import NULL_CLASS
    from bigdata1_spark.operators.text_analysis import naive_bayes_lang

    docs = duck.execute(
        "SELECT doc_id, lang, text FROM documents"
    ).fetchall()
    snap = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    base, dwc = {}, {}
    for doc_id, lang, text in docs:
        cls = NULL_CLASS if lang is None else lang
        base[doc_id] = cls
        words = [w for w in _re.split(r"\s+", text) if w] if text else []
        for w in words:
            dwc[(doc_id, w)] = dwc.get((doc_id, w), 0) + 1
    cw, ntok, vocab = {}, {}, set()
    for (doc_id, w), cnt in dwc.items():
        cls = base[doc_id]
        cw[(cls, w)] = cw.get((cls, w), 0) + cnt
        ntok[cls] = ntok.get(cls, 0) + cnt
        vocab.add(w)
    classes = sorted(set(base.values()))
    prior = {c: 0 for c in classes}
    for c in base.values():
        prior[c] += 1
    n, v = len(base), len(vocab)
    lnp = {
        (c, w): snap(
            math.log((cw.get((c, w), 0) + 1) / (ntok.get(c, 0) + v))
        )
        for c in classes
        for w in vocab
    }
    lnprior = {c: snap(math.log(prior[c] / n)) for c in classes}
    confusion: dict = {}
    by_doc: dict = {}
    for (doc_id, w), cnt in dwc.items():
        by_doc.setdefault(doc_id, []).append((w, cnt))
    for doc_id, actual in base.items():
        best = None
        for c in classes:
            s = 0.0
            for w, cnt in sorted(by_doc.get(doc_id, [])):
                s = s + cnt * lnp[(c, w)]
            score = lnprior[c] + s
            # argmax with (score desc, class asc) tie-break
            if best is None or score > best[0] or (
                score == best[0] and c < best[1]
            ):
                best = (score, c)
        confusion[(actual, best[1])] = confusion.get(
            (actual, best[1]), 0
        ) + 1
    got = {
        (r.actual_cls, r.predicted_cls): r.n_docs
        for r in naive_bayes_lang(spark, sf_dir).collect()
    }
    assert got == confusion


def test_mann_whitney_matches_bruteforce_ranks(spark, duck, sf_dir):
    """Doubled-rank contingency U/z vs a brute-force per-row
    average-rank computation in plain Python (sorting every row, not
    the value table) — a fully independent algorithm."""
    from bigdata1_spark.operators.stats import (
        MW_GROUP_A,
        MW_GROUP_B,
        mann_whitney,
    )

    rows = duck.execute(
        """
        SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT)
        FROM lineitem
        WHERE l_returnflag IN ('R', 'A') AND l_quantity IS NOT NULL
        """
    ).fetchall()
    vals = sorted(v for _, v in rows)
    # average rank per value
    first, avg_rank, counts = {}, {}, {}
    for i, v in enumerate(vals, 1):
        first.setdefault(v, i)
        counts[v] = counts.get(v, 0) + 1
    for v, f in counts.items():
        avg_rank[v] = first[v] + (f - 1) / 2.0
    n_a = sum(1 for g, _ in rows if g == MW_GROUP_A)
    n_b = sum(1 for g, _ in rows if g == MW_GROUP_B)
    r_a = sum(avg_rank[v] for g, v in rows if g == MW_GROUP_A)
    u_a = r_a - n_a * (n_a + 1) / 2.0
    got = mann_whitney(spark, sf_dir).collect()[0]
    assert (got.n_a, got.n_b) == (n_a, n_b)
    assert got.u2_a == int(2 * u_a)
    import math

    n = n_a + n_b
    ties = sum(f**3 - f for f in counts.values())
    den = 2.0 * math.sqrt(
        (n_a * n_b / 12.0) * ((n + 1.0) - ties / (n * (n - 1.0)))
    )
    assert abs(got.z - (2 * u_a - n_a * n_b) / den) < 2e-6


def test_cusum_matches_direct_recursion(spark, sf_dir):
    """The windowable closed form S+ = P - runmin(P), S- = runmax(P)-P
    vs the textbook recursion S_t = max(0, S_{t-1} + y_t) replayed in
    Python per event_type — must agree exactly (all integers)."""
    from bigdata1_spark.operators.temporal import cusum_changepoint

    out = cusum_changepoint(spark, sf_dir).collect()
    assert out
    by_type: dict = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.day)
        n_days = len(rs)
        total = sum(r.n_events for r in rs)
        assert all(r.n_days == n_days for r in rs)
        sp = sn = 0
        for r in rs:
            y = n_days * r.n_events - total
            sp = max(0, sp + y)
            sn = max(0, sn - y)
            assert (r.s_pos, r.s_neg) == (sp, sn), (et, r.day)


# ---------------------------------------------------------------------------
# Round-13 continuation keys: independent math checks (different
# algorithm and/or different engine path than both the Spark plan and
# its mirrored oracle).
# ---------------------------------------------------------------------------


def test_linreg_trend_matches_duckdb_regr_builtins(spark, duck, sf_dir):
    """Our sufficient-statistics OLS vs DuckDB's builtin regr_slope /
    regr_intercept / regr_r2 over the same daily table — a completely
    different implementation of the same closed form."""
    rows = {r.event_type: r for r in
            stats_ops.linreg_trend(spark, sf_dir).collect()}
    assert rows
    ref = duck.execute("""
        WITH daily AS (
          SELECT event_type,
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
                 COUNT(*) AS y
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        )
        SELECT event_type, COUNT(*) AS n,
               regr_slope(y, x), regr_intercept(y, x), regr_r2(y, x)
        FROM daily GROUP BY 1
    """).fetchall()
    assert len(ref) == len(rows)
    for et, n, slope, intercept, r2 in ref:
        r = rows[et]
        assert r.n_days == n
        if slope is None or n < 2:
            continue
        assert abs(r.slope - slope) < 1e-5, et
        assert abs(r.intercept - intercept) < 1e-4, et
        if r.r2 is not None and r2 is not None:
            assert abs(r.r2 - r2) < 1e-5, et


def test_anova_f_matches_pure_python(spark, duck, sf_dir):
    """F statistic vs a from-scratch Python computation over the raw
    (flag, quantity) rows — group means and squared deviations, not
    the sum-of-squares shortcut the operator uses."""
    r = stats_ops.anova_f(spark, sf_dir).collect()[0]
    raw = duck.execute(
        "SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) "
        "FROM lineitem WHERE l_returnflag IN ('A','N','R') "
        "AND l_quantity IS NOT NULL"
    ).fetchall()
    groups: dict = {}
    for g, q in raw:
        groups.setdefault(g, []).append(q)
    assert {r.n_a, r.n_n, r.n_r} == {
        len(groups.get("A", [])), len(groups.get("N", [])),
        len(groups.get("R", []))}
    if len(groups) == 3:
        all_v = [v for vs in groups.values() for v in vs]
        grand = sum(all_v) / len(all_v)
        ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2
                  for vs in groups.values())
        ssw = sum((v - sum(vs) / len(vs)) ** 2
                  for vs in groups.values() for v in vs)
        f_ref = (ssb / 2) / (ssw / (len(all_v) - 3))
        assert abs(r.ssb - ssb) < max(1e-6 * abs(ssb), 1e-3)
        assert abs(r.ssw - ssw) < max(1e-6 * abs(ssw), 1e-3)
        assert abs(r.f_stat - f_ref) < max(1e-6 * abs(f_ref), 1e-5)


def test_kendall_tau_matches_cell_bruteforce(spark, duck, sf_dir):
    """nc/nd/tau vs a pure-Python brute force over the contingency
    cells (cell-pair enumeration in Python, float tie algebra) —
    independent of the Spark join and DECIMAL machinery."""
    r = stats_ops.kendall_tau(spark, sf_dir).collect()[0]
    cells = duck.execute(
        "SELECT CAST(ROUND(l_quantity) AS BIGINT), "
        "CAST(ROUND(l_discount*100) AS BIGINT), COUNT(*) "
        "FROM lineitem WHERE l_quantity IS NOT NULL "
        "AND l_discount IS NOT NULL GROUP BY 1, 2"
    ).fetchall()
    nc = nd = 0
    for x1, y1, f1 in cells:
        for x2, y2, f2 in cells:
            if x2 < x1 and y2 < y1:
                nc += f1 * f2
            elif x2 < x1 and y2 > y1:
                nd += f1 * f2
    n = sum(f for _, _, f in cells)
    assert (r.n_rows, r.nc, r.nd) == (n, nc, nd)
    tx: dict = {}
    ty: dict = {}
    for x, y, f in cells:
        tx[x] = tx.get(x, 0) + f
        ty[y] = ty.get(y, 0) + f
    n0 = n * (n - 1) / 2
    n1 = sum(t * (t - 1) / 2 for t in tx.values())
    n2 = sum(t * (t - 1) / 2 for t in ty.values())
    tau_ref = (nc - nd) / math.sqrt((n0 - n1) * (n0 - n2))
    assert abs(r.tau - tau_ref) < 1e-6
    assert -1.0 <= r.tau <= 1.0


def test_ks_test_matches_pure_python_ecdf(spark, duck, sf_dir):
    """D statistic vs a float ECDF walk in Python over the raw
    per-group counts."""
    r = stats_ops.ks_test(spark, sf_dir).collect()[0]
    raw = duck.execute(
        "SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT), COUNT(*) "
        "FROM lineitem WHERE l_returnflag IN ('R','A') "
        "AND l_quantity IS NOT NULL GROUP BY 1, 2"
    ).fetchall()
    fa: dict = {}
    fb: dict = {}
    for g, v, f in raw:
        (fa if g == "R" else fb)[v] = f
    n_a, n_b = sum(fa.values()), sum(fb.values())
    assert (r.n_a, r.n_b) == (n_a, n_b)
    ca = cb = 0
    d = 0.0
    for v in sorted(set(fa) | set(fb)):
        ca += fa.get(v, 0)
        cb += fb.get(v, 0)
        d = max(d, abs(ca / n_a - cb / n_b))
    assert abs(r.d_stat - d) < 1e-6
    ks_ref = d * math.sqrt(n_a * n_b / (n_a + n_b))
    assert abs(r.ks_stat - ks_ref) < max(1e-6 * ks_ref, 1e-6)


def test_acf_lags_matches_duckdb_corr(spark, duck, sf_dir):
    """Per-lag autocorrelation vs DuckDB's builtin corr() over the
    day-arithmetic-joined series (Welford path, raw doubles)."""
    rows = {r.lag: r for r in stats_ops.acf_lags(spark, sf_dir).collect()}
    ref = duck.execute("""
        WITH series AS (
          SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day, COUNT(*) AS y
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        )
        SELECT l.lag, COUNT(*), corr(a.y, b.y)
        FROM series a
        CROSS JOIN (SELECT CAST(r.range AS INTEGER) AS lag
                    FROM range(1, 8) r) l
        JOIN series b ON b.day = a.day + l.lag
        GROUP BY 1
    """).fetchall()
    assert {lag for lag, _, _ in ref} == set(rows)
    for lag, m, c in ref:
        r = rows[lag]
        assert r.n_pairs == m
        if c is not None and r.acf is not None:
            assert abs(r.acf - c) < 1e-6, lag


def test_benford_digits_matches_pure_python(spark, duck, sf_dir):
    """Digit histogram vs Python string extraction over raw prices;
    chi2 terms vs math.log10 (independent of the injected literals)."""
    rows = {r.digit: r for r in
            stats_ops.benford_digits(spark, sf_dir).collect()}
    prices = duck.execute(
        "SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) "
        "FROM lineitem WHERE l_extendedprice IS NOT NULL"
    ).fetchall()
    counts: dict = {}
    for (c,) in prices:
        if c and c > 0:
            d = int(str(c)[0])
            counts[d] = counts.get(d, 0) + 1
    assert {d: r.n_obs for d, r in rows.items()} == counts
    n = sum(counts.values())
    for d, r in rows.items():
        assert r.n_total == n
        e = n * math.log10(1.0 + 1.0 / d)
        assert abs(r.expected_n - e) < max(1e-9 * e, 1e-5)
        chi = (counts[d] - e) ** 2 / e
        assert abs(r.chi2_term - chi) < max(1e-6 * chi, 1e-4)


def test_theil_sen_matches_pure_python(spark, duck, sf_dir):
    """Slope/intercept vs a from-scratch Python median-of-slopes over
    the daily series (statistics.median, different median algorithm)."""
    import statistics

    rows = {r.event_type: r for r in
            stats_ops.theil_sen_trend(spark, sf_dir).collect()}
    daily = duck.execute("""
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT), COUNT(*)
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """).fetchall()
    series: dict = {}
    for et, x, y in daily:
        series.setdefault(et, []).append((x, y))
    for et, pts in series.items():
        if len(pts) < 2:
            assert et not in rows
            continue
        slopes = [(y2 - y1) / (x2 - x1)
                  for (x1, y1) in pts for (x2, y2) in pts if x1 < x2]
        med = statistics.median(slopes)
        interc = statistics.median(y - med * x for x, y in pts)
        r = rows[et]
        assert r.n_days == len(pts) and r.n_pairs == len(slopes)
        assert abs(r.slope - med) < 1e-6, et
        assert abs(r.intercept - interc) < max(1e-6 * abs(interc), 1e-5)


def test_trimmed_mean_matches_pure_python(spark, duck, sf_dir):
    """Interval-clipped cell arithmetic vs a literal Python sort-and-
    slice of the raw per-group values."""
    rows = {r.grp: r for r in
            stats_ops.trimmed_mean(spark, sf_dir).collect()}
    raw = duck.execute(
        "SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) "
        "FROM lineitem WHERE l_quantity IS NOT NULL"
    ).fetchall()
    groups: dict = {}
    for g, q in raw:
        groups.setdefault(g, []).append(q)
    assert set(rows) == set(groups)
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        k = int(n * 0.0625)
        kept = vals[k:n - k]
        r = rows[g]
        assert (r.n, r.k_trim, r.n_kept) == (n, k, len(kept)), g
        assert abs(r.mean_all - sum(vals) / n) < 1e-6
        if kept:
            assert abs(r.mean_trimmed - sum(kept) / len(kept)) < 1e-6


def test_robust_zscore_matches_pure_python(spark, duck, sf_dir):
    """Median/MAD modified z vs statistics.median over the raw daily
    counts; outlier flag re-derived independently."""
    import statistics

    out = stats_ops.robust_zscore(spark, sf_dir).collect()
    daily = duck.execute(
        "SELECT event_type, date_trunc('day', ts), COUNT(*) "
        "FROM events GROUP BY 1, 2"
    ).fetchall()
    # DuckDB's date_trunc('day') fetches as date, Spark's as midnight
    # datetime — key both by the ISO date prefix (None stays None)
    series: dict = {}
    for et, day, y in daily:
        series.setdefault(et, {})[str(day)[:10] if day else None] = y
    assert len(out) == sum(len(v) for v in series.values())
    for r in out:
        ys = list(series[r.event_type].values())
        med = statistics.median(float(y) for y in ys)
        mad = statistics.median(abs(float(y) - med) for y in ys)
        y = series[r.event_type][str(r.day)[:10] if r.day else None]
        assert r.n_events == y
        if mad > 0:
            ref = 0.6745 * (y - med) / mad
            assert abs(r.rz - ref) < 1e-6, (r.event_type, r.day)
            assert r.is_outlier == (abs(ref) > 3.5)
        else:
            assert r.rz is None and r.is_outlier is None


def test_gini_mad_matches_sorted_formula(spark, duck, sf_dir):
    """MAD-identity Gini vs the classic sorted-cumulative formula
    G = (2*sum(i*y_i)/(n*sum(y)) - (n+1)/n) in pure Python."""
    rows = {r.grp: r for r in stats_ops.gini_mad(spark, sf_dir).collect()}
    raw = duck.execute(
        "SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) "
        "FROM lineitem WHERE l_quantity IS NOT NULL"
    ).fetchall()
    groups: dict = {}
    for g, q in raw:
        groups.setdefault(g, []).append(q)
    assert set(rows) == set(groups)
    for g, vals in groups.items():
        vals.sort()
        n, s = len(vals), sum(vals)
        ref = 2 * sum((i + 1) * y for i, y in enumerate(vals)) / (n * s) \
            - (n + 1) / n
        r = rows[g]
        assert (r.n, r.sum_qty) == (n, s)
        assert abs(r.gini - ref) < 1e-6, g
        assert 0.0 <= r.gini < 1.0


def test_hhi_matches_pure_python_shares(spark, duck, sf_dir):
    """HHI vs a float per-share fold in Python (different algebra:
    shares first, then squares)."""
    rows = {r.nationkey: r for r in
            stats_ops.hhi_concentration(spark, sf_dir).collect()}
    raw = duck.execute("""
        SELECT s.s_nationkey, l.l_suppkey,
               SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS r
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE l.l_extendedprice IS NOT NULL GROUP BY 1, 2
    """).fetchall()
    nats: dict = {}
    for nk, sk, r in raw:
        nats.setdefault(nk, []).append(r)
    assert set(rows) == set(nats)
    for nk, revs in nats.items():
        tot = sum(revs)
        ref = sum((x / tot) ** 2 for x in revs)
        r = rows[nk]
        assert r.n_suppliers == len(revs) and r.revenue_cents == tot
        assert abs(r.hhi - ref) < 1e-6, nk
        assert 1.0 / len(revs) - 1e-9 <= r.hhi <= 1.0


def test_pareto_share_matches_pure_python(spark, duck, sf_dir):
    """Top-quartile share vs a Python sort-and-slice per segment."""
    rows = {r.mktsegment: r for r in
            stats_ops.pareto_share(spark, sf_dir).collect()}
    raw = duck.execute("""
        SELECT c.c_mktsegment, o.o_custkey,
               SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS spend
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice IS NOT NULL GROUP BY 1, 2
    """).fetchall()
    segs: dict = {}
    for seg, ck, sp in raw:
        segs.setdefault(seg, []).append((sp, ck))
    assert set(rows) == set(segs)
    for seg, lst in segs.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        n = len(lst)
        k = n // 4
        top = sum(sp for sp, _ in lst[:k])
        tot = sum(sp for sp, _ in lst)
        r = rows[seg]
        assert (r.n_customers, r.k_top, r.top_cents, r.total_cents) == \
            (n, k, top, tot), seg
        if k > 0:
            assert abs(r.share - top / tot) < 1e-6
            assert r.share >= 0.25 - 1e-9  # top quartile holds >= its share


# ---------------------------------------------------------------------------
# Round-14: Welch t-test / Cramér's V / higher moments — references are
# recomputed in pure Python from the raw table (different algebra path
# than the scaled-integer sufficient statistics under test).
# ---------------------------------------------------------------------------


def _values_by_type(duck):
    rows = duck.execute(
        "SELECT COALESCE(event_type, '<null>'), value FROM events "
        "WHERE value IS NOT NULL"
    ).fetchall()
    by = {}
    for g, v in rows:
        by.setdefault(g, []).append(v)
    return by


def test_welch_ttest_matches_pure_python(spark, duck, sf_dir):
    by = _values_by_type(duck)
    got = {(r.type_a, r.type_b): r
           for r in stats_ops.welch_ttest(spark, sf_dir).collect()}
    eligible = sorted(g for g, vs in by.items() if len(vs) >= 2)
    expect_pairs = {(a, b) for i, a in enumerate(eligible)
                    for b in eligible[i + 1:]}
    assert set(got) == expect_pairs
    for (a, b), r in got.items():
        xa, xb = by[a], by[b]
        na, nb = len(xa), len(xb)
        ma, mb = sum(xa) / na, sum(xb) / nb
        va = sum((x - ma) ** 2 for x in xa) / (na - 1)
        vb = sum((x - mb) ** 2 for x in xb) / (nb - 1)
        assert (r.n_a, r.n_b) == (na, nb)
        assert abs(r.mean_a - ma) < 1e-6 and abs(r.mean_b - mb) < 1e-6
        se2 = va / na + vb / nb
        if se2 == 0:
            assert r.t_stat is None and r.welch_df is None
            continue
        t = (ma - mb) / math.sqrt(se2)
        df = se2 * se2 / ((va / na) ** 2 / (na - 1)
                          + (vb / nb) ** 2 / (nb - 1))
        assert abs(r.t_stat - t) < 1e-4, (a, b)
        assert abs(r.welch_df - df) < max(1e-4 * df, 1e-4)
        # Welch df is bounded by min(n)-1 below and n_a+n_b-2 above
        assert min(na, nb) - 1 - 1e-6 <= r.welch_df <= na + nb - 2 + 1e-6


def test_cramers_v_matches_pure_python(spark, duck, sf_dir):
    cells = duck.execute(
        "SELECT COALESCE(lang, '<null>'), COALESCE(source, '<null>'), "
        "COUNT(*) FROM documents GROUP BY 1, 2"
    ).fetchall()
    r = stats_ops.cramers_v(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    n = sum(c for _, _, c in cells)
    rows = {l for l, _, _ in cells}
    colz = {s for _, s, _ in cells}
    nl = {l: sum(c for ll, _, c in cells if ll == l) for l in rows}
    ns = {s: sum(c for _, ss, c in cells if ss == s) for s in colz}
    chi2 = sum((c - nl[l] * ns[s] / n) ** 2 / (nl[l] * ns[s] / n)
               for l, s, c in cells)
    assert (r.n_langs, r.n_sources, r.n_total) == (len(rows), len(colz), n)
    assert abs(r.chi2 - chi2) < 1e-3
    k = min(len(rows), len(colz))
    if n > 0 and k >= 2:
        v = math.sqrt(chi2 / (n * (k - 1)))
        assert abs(r.cramers_v - v) < 1e-6
        assert 0.0 <= r.cramers_v <= 1.0 + 1e-9
    else:
        assert r.cramers_v is None


def test_moments_profile_matches_pure_python(spark, duck, sf_dir):
    by = _values_by_type(duck)
    got = {}
    for r in stats_ops.moments_profile(spark, sf_dir).collect():
        got[r.event_type if r.event_type is not None else "<null>"] = r
    assert set(got) == set(by)
    for g, xs in by.items():
        r = got[g]
        n = len(xs)
        assert r.n_events == n
        m = sum(xs) / n
        assert abs(r.mean_value - m) < 1e-6
        m2 = sum((x - m) ** 2 for x in xs) / n
        if n < 2 or m2 <= 0:
            assert r.skewness is None
            continue
        m3 = sum((x - m) ** 3 for x in xs) / n
        m4 = sum((x - m) ** 4 for x in xs) / n
        skew = m3 / (m2 * math.sqrt(m2))
        kurt = m4 / (m2 * m2)
        jb = (n / 6.0) * (skew ** 2 + (kurt - 3.0) ** 2 / 4.0)
        assert abs(r.skewness - skew) < 1e-4
        assert abs(r.kurtosis - kurt) < max(1e-4 * kurt, 1e-4)
        assert abs(r.jarque_bera - jb) < max(1e-3 * jb, 1e-3)
        assert r.jarque_bera >= 0


def test_token_divergence_matches_pure_python(spark, duck, sf_dir):
    """KL/JS recomputed with math.log over a Python dict walk (no grid
    snap, no fold order) — agreement within 1e-4 validates the algebra;
    information-theory bounds pin the semantics."""
    from bigdata1_spark.operators import text_analysis

    rows = duck.execute(
        "SELECT COALESCE(source, '<null>'), word, COUNT(*) FROM ("
        "SELECT source, unnest(list_filter(string_split_regex(text, "
        "'\\s+'), x -> len(x) > 0)) AS word FROM documents) "
        "GROUP BY 1, 2"
    ).fetchall()
    by_src: dict = {}
    glob: dict = {}
    for s, w, c in rows:
        by_src.setdefault(s, {})[w] = c
        glob[w] = glob.get(w, 0) + c
    t = sum(glob.values())
    got = {r.source: r for r in
           text_analysis.token_divergence(spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    for s, wc in by_src.items():
        ts = sum(wc.values())
        kl = sum((c / ts) * math.log((c / ts) / (glob[w] / t))
                 for w, c in wc.items())
        js = 0.0
        for w, cg in glob.items():
            p = wc.get(w, 0) / ts
            q = cg / t
            m = (p + q) / 2.0
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            js += 0.5 * q * math.log(q / m)
        r = got[s]
        assert r.n_tokens == ts
        assert abs(r.kl_div - kl) < 1e-4, s
        assert abs(r.js_div - js) < 1e-4, s
        assert r.kl_div >= -1e-9  # Gibbs' inequality
        assert -1e-9 <= r.js_div <= math.log(2) + 1e-9


def test_log_odds_words_matches_pure_python(spark, duck, sf_dir):
    """z-scores recomputed with math.log over Python dicts; the top-10
    per source must match by (z DESC, word ASC) re-ranking."""
    from bigdata1_spark.operators import text_analysis

    rows = duck.execute(
        "SELECT COALESCE(source, '<null>'), word, COUNT(*) FROM ("
        "SELECT source, unnest(list_filter(string_split_regex(text, "
        "'\\s+'), x -> len(x) > 0)) AS word FROM documents) GROUP BY 1, 2"
    ).fetchall()
    by_src: dict = {}
    glob: dict = {}
    for s, w, c in rows:
        by_src.setdefault(s, {})[w] = c
        glob[w] = glob.get(w, 0) + c
    n = sum(glob.values())
    got: dict = {}
    for r in text_analysis.log_odds_words(spark, sf_dir).collect():
        got.setdefault(r.source, []).append(r)
    assert set(got) == set(by_src)
    for s, rs in got.items():
        ns = sum(by_src[s].values())
        scored = []
        for w, cw in glob.items():
            csw = by_src[s].get(w, 0)
            a, b = csw + 0.5, ns - csw + 0.5
            c, d = cw - csw + 0.5, n - ns - (cw - csw) + 0.5
            delta = math.log(a / b) - math.log(c / d)
            z = delta / math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
            scored.append((-z, w))
        scored.sort()
        top = {w: -negz for negz, w in scored[:10]}
        assert len(rs) == min(10, len(scored))
        for r in rs:
            assert r.word in top, (s, r.word)
            assert abs(r.z_score - top[r.word]) < 1e-4
            assert r.n_sw == by_src[s].get(r.word, 0)


def test_bigram_logprob_matches_pure_python(spark, duck, sf_dir):
    from bigdata1_spark.operators import text_analysis

    texts = duck.execute(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    ).fetchall()
    docs = {d: t.split() for d, t in texts}
    bigrams: dict = {}
    heads: dict = {}
    vocab: set = set()
    per_doc: dict = {}
    for d, ws in docs.items():
        vocab.update(ws)
        for w1, w2 in zip(ws, ws[1:]):
            bg = f"{w1} {w2}"
            bigrams[bg] = bigrams.get(bg, 0) + 1
            heads[w1] = heads.get(w1, 0) + 1
            per_doc.setdefault(d, {})[bg] = per_doc.setdefault(
                d, {}
            ).get(bg, 0) + 1
    got = {r.doc_id: r
           for r in text_analysis.bigram_logprob(spark, sf_dir).collect()}
    assert set(got) == {d for d, bgs in per_doc.items() if bgs}
    v = len(vocab)
    for d, bgs in per_doc.items():
        nb = sum(bgs.values())
        s = sum(
            c * math.log((bigrams[bg] + 1)
                         / (heads[bg.split(" ")[0]] + v))
            for bg, c in bgs.items()
        )
        r = got[d]
        assert r.n_bigrams == nb
        assert abs(r.logprob_per_bigram - s / nb) < 1e-4
        assert r.logprob_per_bigram < 0


def test_rfm_segmentation_matches_pure_python(spark, duck, sf_dir):
    """Scores recomputed from plain sorted ranks — validates the
    bucket-offset rank path against the naive global sort."""
    from bigdata1_spark.operators import event_analytics

    rows = duck.execute(
        "SELECT user_id, MAX(CAST(CAST(ts AS DATE) - DATE '1970-01-01' "
        "AS BIGINT)), COUNT(*), SUM(COALESCE(CAST(ROUND(value*100) AS "
        "BIGINT), 0)) FROM events WHERE ts IS NOT NULL GROUP BY 1"
    ).fetchall()
    assert rows
    ref = max(r[1] for r in rows)
    n = len(rows)
    key = lambda u: (u is not None, u)  # NULLS FIRST total order
    users = {u: (ref - last, int(f), int(m)) for u, last, f, m in rows}
    def ranks(metric, desc):
        order = sorted(
            users,
            key=lambda u: ((-users[u][metric] if desc
                            else users[u][metric]), key(u)),
        )
        return {u: i + 1 for i, u in enumerate(order)}
    rr, fr, mr = ranks(0, False), ranks(1, True), ranks(2, True)
    score = lambda rank: 5 - (rank - 1) * 5 // n
    got = {r.user_id: r
           for r in event_analytics.rfm_segmentation(spark, sf_dir)
           .collect()}
    assert set(got) == set(users)
    for u, (rec, f, m) in users.items():
        r = got[u]
        assert (r.recency_days, r.frequency, r.monetary_cents) == (
            rec, f, m)
        assert (r.r_score, r.f_score, r.m_score) == (
            score(rr[u]), score(fr[u]), score(mr[u]))
        assert r.segment == f"{r.r_score}{r.f_score}{r.m_score}"
        assert 1 <= r.r_score <= 5


def test_iqr_outliers_matches_pure_python(spark, duck, sf_dir):
    """Quartiles/fences recomputed with a sorted-list type-7 walk."""
    rows = duck.execute(
        "SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) "
        "FROM lineitem WHERE l_quantity IS NOT NULL"
    ).fetchall()
    by: dict = {}
    for g, v in rows:
        by.setdefault(g, []).append(v)
    got = {r.grp: r for r in stats_ops.iqr_outliers(spark, sf_dir).collect()}
    assert set(got) == set(by)
    for g, vs in by.items():
        vs.sort()
        n = len(vs)

        def q(p):
            h = (n - 1) * p
            lo = int(h)
            hi = min(lo + 1, n - 1)
            return vs[lo] + (h - lo) * (vs[hi] - vs[lo])

        q1, q3 = q(0.25), q(0.75)
        iqr = q3 - q1
        r = got[g]
        assert r.n == n
        assert abs(r.q1 - q1) < 1e-9 and abs(r.q3 - q3) < 1e-9
        assert abs(r.iqr - iqr) < 1e-9
        assert r.n_low == sum(1 for v in vs if v < q1 - 1.5 * iqr)
        assert r.n_high == sum(1 for v in vs if v > q3 + 1.5 * iqr)
