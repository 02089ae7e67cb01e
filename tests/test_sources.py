"""Generator-parity and billing-parser tests (SURVEY.md §5 item 3)."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from bigdata1_spark.sources import billing, generator


def test_generator_properties(spark):
    df = generator.gen_billings(spark, n=2000, seed=7).cache()
    stats = df.select(
        F.min(F.size("items")).alias("min_k"),
        F.max(F.size("items")).alias("max_k"),
        F.min(F.year("bill_date")).alias("min_y"),
        F.max(F.year("bill_date")).alias("max_y"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert stats["n"] == 2000
    assert 1 <= stats["min_k"] and stats["max_k"] <= 8  # vocab has 8 words
    assert stats["min_y"] == 2015 and stats["max_y"] == 2015
    # items unique within each billing
    dup = df.filter(F.size("items") != F.size(F.array_distinct("items")))
    assert dup.count() == 0
    df.unpersist()


def test_generator_deterministic(spark):
    a = generator.gen_billings(spark, n=500, seed=42).collect()
    b = generator.gen_billings(spark, n=500, seed=42).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b))
    c = generator.gen_billings(spark, n=500, seed=43).collect()
    assert sorted(map(repr, a)) != sorted(map(repr, c))


def test_format_a_roundtrip(spark):
    src = generator.gen_billings(spark, n=300, seed=1)
    lines = generator.billing_lines(src)
    parsed = billing.parse_billings_a(lines)
    back = parsed.select(
        "bill_date", F.array_join(F.array_sort("items"), ",").alias("csv")
    )
    orig = src.select(
        "bill_date", F.array_join(F.array_sort("items"), ",").alias("csv")
    )
    assert back.subtract(orig).count() == 0
    assert orig.subtract(back).count() == 0


def test_format_b_parse_and_normalize(spark):
    lines = spark.createDataFrame(
        [
            ("2015-3-12,15 pane,12.5 uova,garbagenospace,abc def",),
            ("",),
            ("2015-10-2,3 vino",),
        ],
        ["value"],
    )
    parsed = billing.parse_billings_b(lines)
    rows = billing.normalize(parsed).collect()
    # blank line dropped (quirk Q8); space-less item dropped (the
    # reference tokenizer would throw on it); non-numeric cost dropped
    # (try_cast, not an ANSI crash)
    assert len(rows) == 3
    by_item = {r["item"]: r for r in rows}
    assert by_item["pane"]["cost"] == 15.0
    assert by_item["uova"]["cost"] == 12.5
    assert str(by_item["vino"]["bill_date"]) == "2015-10-02"  # unpadded ok


def test_format_a_blank_and_dedup(spark):
    lines = spark.createDataFrame(
        [("2015-1-1,pane,pane,latte",), ("   ",), ("2015-2-2,vino",)],
        ["value"],
    )
    parsed = billing.parse_billings_a(lines).collect()
    assert len(parsed) == 2
    items = {tuple(r["items"]) for r in parsed}
    assert ("pane", "latte") in items  # deduped, order preserved


def test_reference_queries_over_billing_text(spark, tmp_path):
    """End-to-end parity on the reference's OWN input format: generate
    Format A text lines, parse, run the engine's three reference kernels
    (TopFive / TotalPerMonth / SupportAndConfidence) on the billings
    frame, check against DuckDB over the exploded line-item table."""
    import duckdb

    from bigdata1_spark.operators import basket

    lines = generator.billing_lines(generator.gen_billings(spark, n=400, seed=9))
    path = str(tmp_path / "billings.txt")
    lines.coalesce(1).write.mode("overwrite").text(path)

    parsed = billing.parse_billings_a(spark.read.text(path))
    # Format A carries no cost: the name length stands in for it
    norm = billing.normalize(parsed).select(
        "bill_id", "item",
        F.length("item").cast("double").alias("cost"),
        basket.month_of(F.col("bill_date")).alias("month"),
    ).cache()
    con = duckdb.connect()
    con.register("norm", norm.toPandas())

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def duck(sql):
        return sorted(con.execute(sql).fetchall())

    # TopFive (intended semantics, quirks Q1/Q2): top-5 items per month
    top5 = basket.top_items(basket.month_item_counts(norm))
    assert rows(top5) == duck("""
        SELECT month, item, cnt, rn FROM (
          SELECT month, item, COUNT(*) cnt,
                 CAST(ROW_NUMBER() OVER (PARTITION BY month
                      ORDER BY COUNT(*) DESC, item) AS BIGINT) rn
          FROM (SELECT DISTINCT bill_id, item, month FROM norm)
          GROUP BY month, item)
        WHERE rn <= 5""")

    # TotalPerMonth: exact cost sum per (item, month)
    assert rows(basket.monthly_revenue(norm)) == duck("""
        SELECT item, month, CAST(SUM(cost) AS DOUBLE)
        FROM norm GROUP BY 1, 2""")

    # SupportAndConfidence: the rules themselves
    per_basket = basket.basket_items(norm).cache()
    rules = basket.rules(per_basket)
    got = rows(rules)
    assert got and got == duck("""
        WITH b AS (SELECT DISTINCT bill_id, item FROM norm),
        total AS (SELECT COUNT(DISTINCT bill_id) AS n FROM b),
        ic AS (SELECT item, COUNT(*) AS c FROM b GROUP BY item),
        pairs AS (
          SELECT x.item AS i1, y.item AS i2, COUNT(*) AS pc
          FROM b x JOIN b y ON x.bill_id = y.bill_id AND x.item < y.item
          GROUP BY 1, 2),
        directed AS (
          SELECT i1 AS a, i2 AS c, pc FROM pairs
          UNION ALL SELECT i2, i1, pc FROM pairs)
        SELECT d.a, d.c, d.pc,
               CAST(d.pc AS DOUBLE) / CAST(t.n AS DOUBLE),
               CAST(d.pc AS DOUBLE) / CAST(ic.c AS DOUBLE)
        FROM directed d JOIN ic ON d.a = ic.item CROSS JOIN total t""")
    assert all(0 < s <= c <= 1 for *_, s, c in got)
    per_basket.unpersist()
    norm.unpersist()


# --- events.ts encoding normalization (regression for the round-4
# testdata swap: nanos-bigint -> micros TIMESTAMP_NTZ broke every ts
# consumer; see VERDICT round 4) -------------------------------------------

def test_events_ts_decodes_to_plausible_years(spark, sf_dir):
    """Whatever encoding the driver testdata uses, load_table must
    surface ts as TIMESTAMP with values in the generator's date range.
    A 1000x granularity mistake lands in 1970 (or year 52xxx) and fails
    this immediately."""
    from bigdata1_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    lo, hi = ev.agg(
        F.year(F.min("ts")), F.year(F.max("ts"))
    ).first()
    assert 2020 <= lo <= hi <= 2030, (lo, hi)


def test_normalize_event_ts_all_encodings(spark):
    """normalize_event_ts handles every encoding the driver has shipped:
    epoch-nanos bigint, epoch-micros bigint, TIMESTAMP_NTZ, TIMESTAMP —
    all converging on the same UTC instant."""
    from bigdata1_spark.sources.tables import normalize_event_ts

    want = "2024-01-29 16:31:24"
    us = 1706545884000000
    cases = {
        "nanos bigint": spark.range(1).select(
            F.lit(us * 1000).alias("ts")
        ),
        "micros bigint": spark.range(1).select(F.lit(us).alias("ts")),
        "timestamp_ntz": spark.range(1).select(
            F.lit(want).cast("timestamp_ntz").alias("ts")
        ),
        "timestamp": spark.range(1).select(
            F.lit(want).cast("timestamp").alias("ts")
        ),
    }
    for label, df in cases.items():
        out = normalize_event_ts(df)
        assert dict(out.dtypes)["ts"] == "timestamp", label
        got = out.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
        ).first()[0]
        assert got == want, (label, got)


def test_all_queries_survive_empty_tables(spark, empty_dir):
    """Every registry key must run (usually to an empty result) against
    schema-complete but EMPTY tables — the shape of a fresh ingest
    prefix. Round-5 advisory review caught one such latent crash
    (cooccur_pmi's negative slice length); this sweep pins the whole
    registry. A handful of expensive keys are sampled out to keep the
    test fast; the full sweep runs in the round harness."""
    from bigdata1_spark import registry

    skip = {  # streaming drains + iterative keys: slow, covered elsewhere
        k for k in registry.QUERIES
        if k.endswith("_streamed") or k in ("pagerank", "dedup_clusters")
    }
    failures = {}
    for key in sorted(registry.QUERIES):
        if key in skip:
            continue
        try:
            registry.QUERIES[key](spark, empty_dir).count()
        except Exception as ex:  # noqa: BLE001
            failures[key] = f"{type(ex).__name__}: {ex}"[:120]
    assert not failures, failures


# --- r16 optimization contracts -------------------------------------------

def test_stream_reader_offset_shape():
    """python_stream_source's r16 termination reads the committed offset
    from the checkpoint (``committed_pos``) instead of running a third (empty)
    query lifecycle — pin the reader-side offset contract that read
    depends on: dict offsets of the form {"pos": N} advancing by
    STREAM_STEP up to STREAM_ROWS."""
    from bigdata1_spark.sources import pydatasource as p

    r = p.BillingStreamReader({})
    off = r.initialOffset()
    assert off == {"pos": 0}
    it, off = r.read(off)
    assert off == {"pos": p.STREAM_STEP}
    assert len(list(it)) == p.STREAM_STEP
    it, off = r.read(off)
    assert off == {"pos": p.STREAM_ROWS}
    # exhausted source: offset stops advancing (the loop's exit signal)
    it, off2 = r.read(off)
    assert off2 == off and list(it) == []


def _ckpt_batch(ckpt, batch, pos, committed):
    """Write one batch of a streaming checkpoint the way Spark lays it
    out: the offsets WAL entry (last line = the source's offset JSON)
    and, once committed, the commits/ marker."""
    (ckpt / "offsets").mkdir(parents=True, exist_ok=True)
    (ckpt / "offsets" / str(batch)).write_text(
        'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0}\n'
        + f'{{"pos":{pos}}}'
    )
    if committed:
        (ckpt / "commits").mkdir(exist_ok=True)
        (ckpt / "commits" / str(batch)).write_text(
            'v1\n{"nextBatchWatermarkMs":0}'
        )


def test_committed_pos_absent_checkpoint(tmp_path):
    from bigdata1_spark.sources.pydatasource import committed_pos

    assert committed_pos(str(tmp_path / "never_started")) is None
    # planned but nothing committed yet: still no committed offset
    _ckpt_batch(tmp_path / "ckpt", 0, 250, committed=False)
    assert committed_pos(str(tmp_path / "ckpt")) is None


def test_committed_pos_ignores_planned_uncommitted_batch(tmp_path):
    """The offsets WAL runs one batch ahead of the commit log when a
    run dies between planning and committing; the committed position
    is the last COMMITTED batch's offset, not the newest WAL entry."""
    from bigdata1_spark.sources.pydatasource import committed_pos

    ckpt = tmp_path / "ckpt"
    _ckpt_batch(ckpt, 0, 250, committed=True)
    _ckpt_batch(ckpt, 1, 500, committed=True)
    _ckpt_batch(ckpt, 2, 750, committed=False)
    (ckpt / "commits" / ".1.crc").write_text("")
    assert committed_pos(str(ckpt)) == 500


def test_committed_pos_corrupt_offset_raises(tmp_path):
    from bigdata1_spark.sources.pydatasource import committed_pos

    ckpt = tmp_path / "ckpt"
    _ckpt_batch(ckpt, 0, 250, committed=True)
    (ckpt / "offsets" / "0").write_text("v1\n{not json")
    with pytest.raises(ValueError, match="unreadable committed offset"):
        committed_pos(str(ckpt))
    # a commit whose offsets entry is missing is just as unreadable
    (ckpt / "offsets" / "0").unlink()
    with pytest.raises(ValueError, match="unreadable committed offset"):
        committed_pos(str(ckpt))


def test_has_data_empty_sink_rule(tmp_path):
    """Bookkeeping files (``_SUCCESS``, ``.crc``) do not make a sink
    non-empty; one data file at any depth does."""
    from bigdata1_spark.sources.tables import has_data

    assert not has_data(str(tmp_path / "absent"))
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / ".part-0.parquet.crc").write_text("")
    assert not has_data(str(tmp_path))
    tree = tmp_path / "tree"
    (tree / "lang=fr").mkdir(parents=True)
    (tree / "lang=fr" / "part-0.parquet").write_bytes(b"")
    assert has_data(str(tree))


def test_partitioned_read_back_raises_on_corrupt_file(spark, tmp_path):
    """A sink holding a data file is read, never guessed empty: a
    corrupt part file in ``scan_partitioned``'s read path raises."""
    from bigdata1_spark.sources.jsonl import _pruned_rollup

    part = tmp_path / "docs_part" / "lang=fr"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        _pruned_rollup(spark, str(tmp_path / "docs_part")).collect()


def test_footer_row_count_matches_duckdb(duck, sf_dir):
    """The footer walk counts exactly the rows a scan returns, on every
    table."""
    from bigdata1_spark.sources.tables import TABLES, parquet_row_count

    for t in TABLES:
        (want,) = duck.execute(f"SELECT COUNT(*) FROM {t}").fetchone()
        assert parquet_row_count(sf_dir, t) == want, t


def test_row_groups_raise_on_corrupt_footer(tmp_path):
    """An unreadable footer raises instead of sizing the input as
    already-parallel (no ``spread_if_starved`` decision on a guess)."""
    from bigdata1_spark.sources.tables import _parquet_row_groups

    (tmp_path / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        _parquet_row_groups(str(tmp_path))


@pytest.fixture
def ab_loader():
    """``bench._load_ab_registry`` with ``os.environ`` and ``sys.path``
    snapshotted before the test and restored after it."""
    import os
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if subprocess.run(
        ["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True
    ).returncode != 0:
        pytest.skip("not a git checkout")
    saved_env, saved_path = dict(os.environ), list(_sys.path)
    import bench

    yield bench._load_ab_registry
    os.environ.clear()
    os.environ.update(saved_env)
    _sys.path[:] = saved_path


def test_bench_ab_registry_loads_head(ab_loader):
    """BENCH_AB's renamed-package loader must materialize a committed
    ref's registry with the same key set as the live one (the
    interleaved A/B times ref and HEAD key-by-key), and every bench-only
    EXTRA_BENCH function must resolve in the ref package too."""
    import bench

    ref_registry, restore = ab_loader("HEAD")
    try:
        from bigdata1_spark import registry as live

        assert set(ref_registry.QUERIES) & set(live.QUERIES), "no shared keys"
        # the wrapper convention (__wrapped__) must survive the rename
        k = sorted(ref_registry.QUERIES)[0]
        assert hasattr(ref_registry.QUERIES[k], "__wrapped__")
        for key, fn in bench.EXTRA_BENCH.items():
            ref_fn = bench._ab_function(ref_registry, key)
            assert ref_fn is not None, key
            assert ref_fn.__name__ == fn.__name__
            assert ref_fn.__module__.startswith("bigdata1_spark_abref."), key
    finally:
        restore()


def test_bench_ab_restore_undoes_loader(ab_loader):
    """The loader's cleanup leaves no trace: PYTHONPATH and sys.path as
    before, the renamed package unloaded, the bench_ab_ tree deleted —
    otherwise every later Spark worker inherits the ref package."""
    import os
    import sys as _sys

    env, path = dict(os.environ), list(_sys.path)
    _, restore = ab_loader("HEAD")
    work = _sys.path[0]
    assert os.path.isdir(work)
    assert os.environ["PYTHONPATH"].split(os.pathsep)[0] == work
    restore()
    assert dict(os.environ) == env
    assert _sys.path == path
    assert not os.path.exists(work)
    assert not any(m.startswith("bigdata1_spark_abref") for m in _sys.modules)


def test_dump_plans_under_plan_pkg_ref(
    ab_loader, spark, sf_dir, tmp_path, monkeypatch
):
    """``tools/dump_plans.py`` with ``PLAN_PKG_REF`` set dumps the ref's
    plan of a key and then removes the ref's package tree, as BENCH_AB
    does."""
    import glob
    import os
    import sys as _sys
    import tempfile

    import bigdata1_spark.session as session
    from tools import dump_plans

    trees = os.path.join(tempfile.gettempdir(), "bench_ab_*")
    before = set(glob.glob(trees))
    monkeypatch.setenv("PLAN_PKG_REF", "HEAD")
    monkeypatch.setattr(dump_plans, "SF_DIR", sf_dir)
    # the shared session, untouched by get_spark's confs
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(
        _sys, "argv", ["dump_plans.py", str(tmp_path), "ref", "groupby_sum"]
    )
    dump_plans.main()
    plan = (tmp_path / "groupby_sum_ref.txt").read_text()
    assert "HashAggregate" in plan
    assert set(glob.glob(trees)) == before
    assert not any(m.startswith("bigdata1_spark_abref") for m in _sys.modules)


def test_dump_plans_twice_is_byte_identical(spark, sf_dir, tmp_path, monkeypatch):
    """Two dumps of the same code in one session write the same bytes:
    expression, exchange and RDD ids are renumbered per plan and
    ``bucketed_join``'s temp table path is masked."""
    import sys as _sys

    import bigdata1_spark.session as session
    from tools import dump_plans

    keys = ["groupby_sum", "connected_components", "bucketed_join"]
    monkeypatch.setattr(dump_plans, "SF_DIR", sf_dir)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    for run in ("a", "b"):
        monkeypatch.setattr(
            _sys, "argv", ["dump_plans.py", str(tmp_path), run, *keys]
        )
        dump_plans.main()
    for key in keys:
        first = (tmp_path / f"{key}_a.txt").read_bytes()
        assert first == (tmp_path / f"{key}_b.txt").read_bytes(), key
    assert b"plan_id=1]" in (tmp_path / "bucketed_join_a.txt").read_bytes()


def test_bench_ab_detail_banks_ref_runs_and_extra_keys(
    monkeypatch, tmp_path, capsys
):
    """A BENCH_AB run banks every ref run per key beside the head's
    samples, and ``speedup_vs_ref`` covers the EXTRA_BENCH keys as well
    as registry keys; the stdout line keeps its fields. Runs ``_bench``
    on a stand-in session, so no Spark job starts."""
    import json
    import types

    import bench

    class _Stub:  # the session, its reader, catalog and every frame
        def __getattr__(self, name):
            return self

        def __call__(self, *args, **kwargs):
            return self

    def op(spark, sf_dir):
        return _Stub()

    monkeypatch.setattr(bench, "get_spark", lambda **kw: _Stub())
    monkeypatch.setattr(bench, "_materialize", lambda df: None)
    monkeypatch.setattr(bench, "registry", types.SimpleNamespace(
        QUERIES={"reg_key": op}))
    monkeypatch.setattr(bench, "EXTRA_BENCH", {"extra_key": op})
    monkeypatch.setattr(bench, "_ab_function", lambda reg, key: op)
    monkeypatch.setattr(bench, "RUNS", 3)
    monkeypatch.delenv("BENCH_ONLY", raising=False)
    detail_path = tmp_path / "detail.json"
    monkeypatch.setenv("BENCH_DETAIL_PATH", str(detail_path))

    bench._bench("REF", object())

    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"metric", "value", "unit", "queries", "n_queries",
                        "queries_full", "sf", "extra"}
    detail = json.loads(detail_path.read_text())
    ab = detail["ab"]
    assert ab["ref"] == "REF"
    for key in ("reg_key", "extra_key"):
        assert len(ab["ref_samples"][key]) == 3
        assert len(detail["samples"][key]) == 3
        assert ab["ref_queries"][key] == min(ab["ref_samples"][key])
    assert set(ab["speedup_vs_ref"]) == {"reg_key", "extra_key"}


@pytest.mark.parametrize("phys_gib, want", [(8, "4096m"), (64, "16g")])
def test_driver_memory_follows_host(monkeypatch, phys_gib, want):
    """The default driver heap is half of physical memory, capped at
    16g; SPARK_GRAFT_DRIVER_MEM still wins."""
    import os

    from bigdata1_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_local_jvm_runs_with_session_options(spark):
    """The live local-master JVM was started with every
    ``LOCAL_JVM_OPTIONS`` flag, and its collector is the parallel one."""
    from bigdata1_spark import session

    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = set(mgmt.getRuntimeMXBean().getInputArguments())
    assert set(session.LOCAL_JVM_OPTIONS.split()) <= args
    gcs = {b.getName() for b in mgmt.getGarbageCollectorMXBeans()}
    assert gcs == {"PS Scavenge", "PS MarkSweep"}


def test_local_jvm_options_compose_with_extra_conf():
    """A caller's ``extraJavaOptions`` (perfbench passes its tmpdir) keeps
    the session's JVM options; ``defaultJavaOptions`` in ``extra_conf``
    replaces them; spark-submit (``master=""``) gets neither them nor
    the heap."""
    from bigdata1_spark import session

    key = "spark.driver.defaultJavaOptions"
    tmpdir = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"}
    conf = session.session_conf("local[4]", extra_conf=tmpdir)
    assert conf[key] == session.LOCAL_JVM_OPTIONS
    assert conf["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/x"
    assert session.session_conf("local[2]", extra_conf={key: "-Xss4m"})[key] == "-Xss4m"
    submit = session.session_conf("")
    assert key not in submit and "spark.driver.memory" not in submit


def test_cached_plans_coalesce(spark, sf_dir):
    """Every session, local or spark-submit, lets AQE coalesce a cached
    plan: a cached ``basket_items`` is built below the shuffle-partition
    count, not at it (Spark's default keeps a cached subtree at the full
    count)."""
    from bigdata1_spark import session
    from bigdata1_spark.operators.basket import basket_items, tpch_lines

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert session.session_conf("local[4]")[key] == "true"
    assert session.session_conf("")[key] == "true"
    df = basket_items(tpch_lines(spark, sf_dir)).cache()
    try:
        df.count()
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert df.rdd.getNumPartitions() < parts
    finally:
        df.unpersist()


@pytest.mark.parametrize("body_raises", [False, True])
def test_scoped_conf_restores_prior_and_unset_keys(spark, body_raises):
    """``session.scoped_conf`` puts a set key back to its prior value
    and unsets a key that had none, whether the body returns or
    raises."""
    from bigdata1_spark.session import scoped_conf

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.bigdata1.scopedConfProbe"
    prior = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None

    class Body(Exception):
        pass

    with pytest.raises(Body) if body_raises else contextlib.nullcontext():
        with scoped_conf(spark, {set_key: "3", unset_key: "on"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "on"
            if body_raises:
                raise Body
    assert spark.conf.get(set_key) == prior
    assert spark.conf.get(unset_key, None) is None
