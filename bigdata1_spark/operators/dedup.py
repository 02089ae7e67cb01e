"""Deduplication operators over the ``documents`` table (north-star
extensions, SURVEY.md §2.9 X1/X2).

Scale design: every variant is inverted-index- or bucket-join-shaped —
no O(n²) cartesian anywhere. The exact-Jaccard query joins docs through
shared shingles (pairs that share nothing never meet); MinHash-LSH and
SimHash bucket by sketch keys so candidate generation is a hash shuffle
on bounded keys; embedding near-dup blocks on the label column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata1_spark.functions import hashing, textfns, vectors
from bigdata1_spark.operators.graph import iterate, symmetrize
from bigdata1_spark.sources.tables import load_table, spread_if_starved


def _spread_verify(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Spread a candidate-pair set across the cluster before the
    array_intersect verify join (guide §2.2's CPU/byte mismatch): the
    pair rows are 2 longs each, so AQE's byte-based coalescing shrinks
    the post-``distinct`` stage to ONE partition at toy scale — and the
    verify projection (an array_intersect over ~100-element hash sets
    per pair, the dominant dedup cost at sf3 per SCALE.md) then runs
    single-task (measured: 1.45 s of a 4.5 s dedup_near wall in one
    task, 31 cores idle). Gated by the same parquet-footer probe as the
    scan spread: at 100 TB the input has thousands of row groups, the
    gate is an identity, and AQE's byte sizing is correct because
    candidate volume is genuinely large."""
    import os

    return spread_if_starved(
        spark, cand, os.path.join(sf_dir, "documents.parquet")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text.

    Hash-groupBy on the text (at 100 TB: group on sha2(text) to shrink
    shuffle keys; here the text column itself keeps the oracle trivial).
    Columns: doc_id, n_dups.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("doc_id", "n_dups")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return docs.select(
        "doc_id",
        textfns.word_shingles(textfns.tokens(F.col("text")), n).alias("shingles"),
    )


def shingle_hashes_of(docs: DataFrame, n: int = 3) -> DataFrame:
    """Shingle-hash table for an ARBITRARY (doc_id, text) frame —
    pipeline stages near-dedup a gated/deduped corpus, not the raw
    table, so the shingle base is a parameter (same semantics as
    :func:`_doc_shingle_hashes`, which delegates here)."""
    # NULL text contributes NO shingles and therefore pairs with
    # nothing: unfiltered, the degenerate whole-doc shingle maps every
    # NULL doc to the same hash and declares them all mutual duplicates
    # while the SQL oracles (NULL never equals NULL) pair none of them
    # (found by the .nulldata sweep). Empty STRINGS keep the documented
    # degenerate-doc convention — only absent text is excluded.
    sh = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        textfns.word_shingles(textfns.tokens(F.col("text")), n)
        .alias("shingles"),
    )
    return sh.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
            )
        ).alias("hs"),
    )


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Shingle sets as sorted ARRAY<BIGINT> of xxhash64 values.

    Set operations (prefix slicing, equality joins, intersections) on
    8-byte longs are far cheaper than on 3-word strings, and sorting by
    hash doubles as the canonical global order prefix filtering needs.
    Jaccard on the hashed sets equals Jaccard on the string sets up to
    a ~2^-64-per-pair collision (the DuckDB oracle cross-checks at test
    scale)."""
    return shingle_hashes_of(
        load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text"), n
    )


def dedup_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs via prefix
    filtering (Bayardo et al., All-Pairs/PPJoin).

    A naive inverted-index count explodes on hot shingles (a shingle in
    d docs yields d² pair rows). Prefix filtering is exact and bounded:
    order each doc's shingle hashes by a GLOBAL total order, index only
    the first ⌊(1-t)·n⌋+1 — any pair with J ≥ t provably shares a
    prefix element (valid for ANY total order) — then verify candidates
    with one array_intersect of the hashed sets per pair. The order
    used is All-Pairs' canonical rarest-first: ascending corpus
    document frequency, hash as tie-break. That choice is the whole
    ballgame at scale — prefixes then hold each doc's RAREST shingles,
    so inverted-index buckets stay small even when the corpus shares a
    vocabulary (a hash order scatters hot shingles into prefixes and
    the r9 sf1 measurement showed the resulting candidate blowup:
    39-64× time at 10× docs; df-ordering restored ~linear scaling).
    A length filter (J ≥ t ⇒ t·|A| ≤ |B| ∧ t·|B| ≤ |A|) prunes the
    bucket joins further. Same result set as the quadratic oracle SQL,
    sub-quadratic candidate generation. Columns: id1, id2, jaccard.

    ``hashed_shingles`` lets a caller that fans out (dedup_clusters)
    supply — and own the lifecycle of — the cached shingle table; when
    omitted, this function caches it itself (the prefix and verify
    branches share it) and the entry lives until the session's cache
    is cleared.
    """
    ordered = hashed_shingles if hashed_shingles is not None else (
        _doc_shingle_hashes(spark, sf_dir).cache()
    )
    # rarest-first canonical order: df per shingle hash (one map-side-
    # combinable agg over the exploded corpus), then per-doc sort by
    # (df, h) and keep the ⌊(1-t)·n⌋+1-element prefix. struct ordering
    # is field-lexicographic, so array_sort(struct(df, h)) IS the
    # global order restricted to the doc.
    ex = ordered.select(
        "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("h")
    )
    df_tbl = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.floor(F.col("n") * (1.0 - threshold)).cast("int") + 1
    prefixes = (
        ex.join(df_tbl, "h")
        .groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("rk"))
        .select(
            "doc_id",
            "n",
            F.explode(
                F.transform(
                    F.slice(F.col("rk"), 1, prefix_len),
                    lambda s, i: F.struct(
                        s["h"].alias("h"), (i + 1).alias("pos")
                    ),
                )
            ).alias("hp"),
        )
        .select("doc_id", "n", F.col("hp.h").alias("h"),
                F.col("hp.pos").alias("pos"))
        # the self-join below aliases this subtree twice with distinct
        # expr-ids, so neither static nor AQE exchange reuse dedupes it
        # (verified: no ReusedExchange in the executed plan) — without
        # the cache the whole explode→df-join→collect_list pipeline,
        # df aggregation included, runs TWICE per call. Prefix rows are
        # ⌊(1-t)n⌋+1 per doc (a fraction of the corpus), so the cache is
        # strictly smaller than the recompute; same session-cache
        # lifecycle as the shingle table above.
        .cache()
    )
    t = float(threshold)
    # PPJoin positional filter: J ≥ t requires overlap α =
    # ⌈t/(1+t)·(nₐ+n_b)⌉; for a match at ranks (i, j) of the SHARED
    # global (df, h) order, every later common element ranks after
    # both, so overlap ≤ 1 + min(nₐ−i, n_b−j). The pair's globally
    # FIRST common element sits inside both prefixes (the prefix-
    # filter lemma) and passes this bound whenever the pair truly
    # qualifies, so keep-if-any-match-passes is exact — but random
    # coincidental matches land deep in both prefixes and die here
    # BEFORE the distinct and the array_intersect verify (measured on
    # the sf3 twin: 351M raw match rows → 163M after this filter; the
    # verify join is the dominant cost, see SCALE.md §Round-15).
    alpha = F.ceil(
        (F.col("a.n") + F.col("b.n")).cast("double") * F.lit(t / (1.0 + t))
    )
    ubound = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"),
              (F.col("a.h") == F.col("b.h"))
              & (F.col("a.doc_id") < F.col("b.doc_id"))
              # length filter: J ≥ t bounds the size ratio by t
              & (F.col("b.n") >= F.col("a.n") * t)
              & (F.col("a.n") >= F.col("b.n") * t)
              & (ubound >= alpha))
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .distinct()
    )
    cand = _spread_verify(spark, sf_dir, cand)
    a = ordered.select(F.col("doc_id").alias("id1"), F.col("hs").alias("hs1"))
    b = ordered.select(F.col("doc_id").alias("id2"), F.col("hs").alias("hs2"))
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    return (
        cand.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1", "id2",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _combinations(ids: Column) -> Column:
    """All 2-combinations of a sorted array as ARRAY<STRUCT<id1,id2>>
    (id1 < id2 by the array order)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )


def minhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    k: int = 32,
    bands: int = 8,
    hashed_shingles: DataFrame | None = None,
    max_bucket_chunk: int = 64,
) -> DataFrame:
    """MinHash+LSH candidate pairs (doc ids sharing ≥1 band bucket).

    shingle → k-minhash signature → band keys → explode → bucket
    groupBy → pair generation. Candidates are distinct (id1 < id2).
    Columns: id1, id2.

    Skew guard: a bucket's sorted id array is sliced into chunks of at
    most ``max_bucket_chunk`` ids; pairs within a chunk are generated
    array-locally (the same combination pattern as the basket
    operators — no self-join shuffle), pairs across chunks through a
    chunk-index self-join, so no single task ever materializes more
    than ``max_bucket_chunk``² pairs even for a pathological hot bucket
    (e.g. a boilerplate-dominated corpus where thousands of docs share
    a band key). Buckets at or under the cap produce one chunk and the
    cross-chunk join matches nothing — the common case stays one
    array-local pass. The guard is exact: no candidate is dropped.
    """
    rows = k // bands
    sh = hashed_shingles if hashed_shingles is not None else (
        _doc_shingle_hashes(spark, sf_dir)
    )
    # the sorted per-doc shingle hashes ARE the minhash base hashes
    # (h_i = rehash of xxhash64(shingle)), so the same table feeds both
    # candidate generation here and the exact verify in dedup_near —
    # one tokenize/shingle/hash pass total when the caller shares it.
    sig = sh.select(
        "doc_id",
        hashing.band_keys(
            hashing.minhash_from_hashes(F.col("hs"), k=k), bands, rows
        ).alias("bks"),
    )
    cap = F.lit(max_bucket_chunk)
    chunked = (
        sig.select("doc_id", F.explode("bks").alias("bk"))
        .groupBy("bk")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            "bk",
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("ids") / cap) - 1),
                lambda i: F.slice(F.col("ids"), i * cap + 1, cap),
            ).alias("chunks"),
        )
    )
    # one row per (bucket, chunk): BOTH pair paths work from the
    # exploded view so no task ever holds more than one chunk's pairs —
    # flattening per-chunk combinations on the un-exploded bucket row
    # would rebuild O(|bucket|·cap) structs in a single task.
    idx = chunked.select("bk", F.posexplode("chunks").alias("ci", "chunk"))
    within = idx.select(
        F.explode(_combinations(F.col("chunk"))).alias("p")
    )
    # ids are globally sorted before chunking, so for ci < cj every id in
    # chunk ci is smaller than every id in chunk cj → id1 < id2 holds.
    across = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.ci") < F.col("b.ci")),
        )
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("a.chunk"),
                        lambda x: F.transform(
                            F.col("b.chunk"),
                            lambda y: F.struct(
                                x.alias("id1"), y.alias("id2")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
    )
    return within.union(across).select("p.id1", "p.id2").distinct()


def dedup_near(
    spark: SparkSession,
    sf_dir: str,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ 0.5.

    The LSH pass prunes the pair space; the verify pass joins candidates
    back to shingle sets and keeps true near-dups (no false positives;
    recall governed by the band S-curve — asserted against the exact
    query in tests). The registry binds :func:`dedup_near_checked`,
    which wraps this result in a hash-checkable contract; this pure-LSH
    form is the scale path. Columns: id1, id2, jaccard.
    """
    sh = hashed_shingles if hashed_shingles is not None else (
        _doc_shingle_hashes(spark, sf_dir).cache()
    )
    cand = _spread_verify(
        spark, sf_dir, minhash_candidates(spark, sf_dir, hashed_shingles=sh)
    )
    a = sh.select(F.col("doc_id").alias("id1"), F.col("hs").alias("hs1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("hs").alias("hs2"))
    joined = cand.join(a, "id1").join(b, "id2")
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    return (
        joined.select(
            "id1", "id2",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def dedup_near_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_near` with its checkable contract in-band (round 7
    promotion from rows-only, the ``approx_sketch`` pattern).

    Rows = the EXACT Jaccard ≥ 0.5 near-dup pair set (what
    ``dedup_jaccard``'s prefix-filter computes — SQL-reproducible), and
    ``lsh_ok`` = the one *deterministic* guarantee MinHash-LSH makes:
    a pair with Jaccard exactly 1 has identical signatures, hence
    identical band keys, hence MUST be an LSH candidate — so
    ``jaccard < 1 OR found_by_lsh`` is provably true and the oracle
    pins it. Probabilistic recall below J=1 (the band S-curve) stays a
    local-test assertion (`tests/test_extensions.py`), where a
    tolerance belongs. Both legs share ONE cached shingle-hash table;
    the pure-LSH scale path remains ``dedup_near``/``dedup_near_apply``
    for callers that want candidates without the exact-join cost.
    Columns: id1, id2, jaccard, lsh_ok.
    """
    sh = _doc_shingle_hashes(spark, sf_dir).cache()
    exact = dedup_jaccard(spark, sf_dir, hashed_shingles=sh)
    lsh = dedup_near(spark, sf_dir, hashed_shingles=sh).select(
        "id1", "id2", F.lit(True).alias("found_by_lsh")
    )
    # LSH survivors verify with the same exact-Jaccard expression over
    # the same hashed sets, so they are ALWAYS a subset of `exact` —
    # a left join loses nothing (an outer-join extra row would mean the
    # two legs disagreed on Jaccard itself, which one shared shingle
    # table makes impossible).
    return exact.join(lsh, ["id1", "id2"], "left").select(
        "id1",
        "id2",
        "jaccard",
        (
            (F.col("jaccard") < 1.0)
            | F.coalesce(F.col("found_by_lsh"), F.lit(False))
        ).alias("lsh_ok"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + near-dup pairs within Hamming distance 3.

    Charikar fingerprint per doc; candidate generation via 4-block
    pigeonhole keys (any pair within distance 3 shares a block —
    EXACT, no recall loss), then exact Hamming verify. The base hash is
    :func:`hashing.md5hash60` (round 7), which makes the fingerprints a
    pure md5 function of the shingle multiset — so the DuckDB oracle
    recomputes every fingerprint bit-for-bit in SQL (per-bit majority
    over the same 60-bit hashes, same bottom-255 cap, same ties→1
    rule) and the key is FULL value-hash checked, not rows-only. The
    xxhash64-based variant stays available through
    ``hashing.simhash64``'s default for throughput-sensitive callers.
    Columns: id1, id2, hamming.
    """
    sh = _doc_shingles(spark, sf_dir)
    # cache: the 64-bit-majority sketch is the expensive part and the
    # self-join below would otherwise compute it on both sides
    fp = sh.select(
        "doc_id",
        hashing.simhash64(
            F.col("shingles"), base_hash=hashing.md5hash60
        ).alias("fp"),
    ).cache()
    keyed = fp.select(
        "doc_id", "fp",
        F.explode(hashing.simhash_block_keys(F.col("fp"))).alias("bk"),
    )
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"),
              (F.col("a.bk") == F.col("b.bk"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            hashing.hamming64(F.col("a.fp"), F.col("b.fp"))
            .cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= 3)


def _block_pairs_fn(threshold: float):
    """Per-block pairwise cosine as a grouped-map function.

    Row-wise ``cumsum`` is the sequential left fold, so every dot and
    norm is bit-identical to the ``F.aggregate`` formulation and to
    DuckDB's list-fold semantics (verified with exceptAll == 0 against
    the column-expression version)."""

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy())
        nrm = np.sqrt((V * V).cumsum(axis=1)[:, -1])
        keep = nrm > 0  # zero vectors have no direction: NaN sims would
        ids, V, nrm = ids[keep], V[keep], nrm[keep]  # diverge from SQL
        Vn = V / nrm[:, None]
        o1, o2, oc = [], [], []
        for i in range(len(ids) - 1):
            sims = (Vn[i] * Vn[i + 1:]).cumsum(axis=1)[:, -1]
            m = sims >= threshold
            if m.any():
                o1.append(np.full(int(m.sum()), ids[i]))
                o2.append(ids[i + 1:][m])
                oc.append(sims[m])
        if not o1:
            return pd.DataFrame(
                {"id1": [], "id2": [], "cos_sim": []}
            ).astype({"id1": "int64", "id2": "int64", "cos_sim": "float64"})
        return pd.DataFrame(
            {
                "id1": np.concatenate(o1),
                "id2": np.concatenate(o2),
                "cos_sim": np.concatenate(oc),
            }
        )

    return block_pairs


EMB_LSH_PLANES = 4  # 2^4 buckets; at 100 TB raise planes + add probes
EMB_LSH_DIM = 64
EMB_LSH_SEED = 11


def dedup_embedding(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by a random-hyperplane
    LSH bucket key.

    The block key is ``vectors.hyperplane_sign_key`` — a deterministic
    function of the vector itself (seeded literal planes), NOT a data
    column, so the same blocking runs on any corpus and the DuckDB
    oracle reproduces it bit-for-bit from the same plane literals. The
    semantics are "pairs in the same LSH bucket with cos ≥ t": like any
    single-table LSH this trades recall vs all-pairs for linear scan
    cost (measured on testdata sf0.01: 990 all-pairs ≥ 0.3 overall —
    no blocking key, including the previous ``label`` stand-in at 111
    pairs, preserves that set; the honest scale posture is to pick the
    bucket fn and state it). More recall at scale = more planes with
    multi-probe, or a union over several seeds.

    Pairs are generated INSIDE an ``applyInPandas`` grouped map per
    bucket: one shuffle of n vectors, |bucket|²-bounded work per group,
    and the Arrow transfer carries the n input vectors — not the n²
    joined pairs (6× faster than the pair-join + per-pair-UDF
    formulation). Zero-norm vectors are dropped on both sides (they
    have no direction; NaN cosine orders differently in DuckDB).
    Columns: id1, id2, cos_sim.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("v")
    )
    bucketed = emb.withColumn(
        "bucket",
        vectors.hyperplane_sign_key(
            F.col("v"), EMB_LSH_PLANES, EMB_LSH_DIM, EMB_LSH_SEED
        ),
    )
    return bucketed.groupBy("bucket").applyInPandas(
        _block_pairs_fn(threshold), "id1 long, id2 long, cos_sim double"
    )


def min_label_components(
    nodes: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components by iterative hash-to-min label propagation
    over an (id1, id2) pair frame — the reusable group-resolution core
    of :func:`dedup_clusters`, parameterized so pipeline stages can
    cluster pairs from ANY detector (exact-Jaccard or pure-LSH) over
    any node set. Each round is one neighbor-min step (join + min-agg)
    plus one pointer-doubling self-join, so labels converge in
    O(log diameter) rounds — not O(diameter). Labels only decrease,
    so :func:`~bigdata1_spark.operators.graph.iterate` stops at the
    first zero-change round. ``nodes``: single-column frame of ids.
    Returns (node, lbl) with lbl = min reachable id."""
    # symmetrize in ONE scan of the (lazy, possibly expensive —
    # dedup_jaccard) pair plan before the cache is populated
    edges = symmetrize(pairs, "id1", "id2").cache()
    id_col = nodes.columns[0]
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
    ).localCheckpoint()

    def step(labels: DataFrame, _r: int) -> DataFrame:
        msgs = (
            labels.join(edges, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # _lbl0 carries the pre-round label for the change flag
        stepped = labels.join(msgs, "node", "left").select(
            "node",
            F.col("lbl").alias("_lbl0"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        # Pointer doubling: lbl(v) <- min(lbl(v), lbl(lbl(v))). Every
        # label IS a node id (labels start as own ids and only adopt
        # other node ids), so the self-lookup is total; combined with
        # the one-hop neighbor step above, the reach distance doubles
        # per round and a diameter-d chain resolves in O(log d) rounds
        # instead of O(d) — measured at sf1, where regenerated near-dup
        # chains are long enough for the difference to dominate the
        # dedup_clusters runtime.
        jump = stepped.select(
            F.col("node").alias("jnode"), F.col("lbl").alias("jlbl")
        )
        final_lbl = F.least(
            F.col("lbl"), F.coalesce(F.col("jlbl"), F.col("lbl"))
        )
        return stepped.join(
            jump, stepped["lbl"] == jump["jnode"], "left"
        ).select(
            "node",
            final_lbl.alias("lbl"),
            (final_lbl != F.col("_lbl0")).cast("long").alias("_changed"),
        )

    labels = iterate(labels, step, max_iter, changed="_changed")
    edges.unpersist(blocking=False)
    return labels


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 20
) -> DataFrame:
    """Connected components over the near-dup pair graph → canonical
    cluster id (min doc_id reachable) per document.

    This is the group-resolution step every dedup pipeline needs after
    pairwise detection: keep one representative per component. Iterative
    hash-to-min label propagation with pointer doubling — each round is
    one distributed join+min-aggregate plus a label self-join that jumps
    lbl(lbl(v)), so even long near-dup chains converge in O(log diameter)
    rounds (the cap is a safety net, convergence is checked).
    ``localCheckpoint`` truncates lineage so plans stay bounded across
    iterations. Labels only ever decrease, so a round with zero changes
    is a fixed point — detected for free via ``DataFrame.observe`` on
    each round's checkpoint job (no probe jobs at all; a diameter-1
    graph finishes in exactly 2 round jobs).
    Columns: doc_id, cluster_id, cluster_size.
    """
    sh = _doc_shingle_hashes(spark, sf_dir).cache()
    pairs = dedup_jaccard(spark, sf_dir, hashed_shingles=sh).select(
        "id1", "id2"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = min_label_components(docs, pairs, max_iter=max_iter)
    # the result depends only on the checkpointed labels — release the
    # cache this function owns (the shingle table passed to dedup_jaccard)
    sh.unpersist(blocking=False)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("node").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
    )


def dedup_embedding_multiprobe(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    seeds: tuple[int, ...] = (11, 13, 17),
) -> DataFrame:
    """OR-amplified embedding near-dup: union the LSH-blocked pair sets
    over several plane seeds — a pair is found if ANY table buckets it
    together, so per-pair recall is 1-(1-p)^L for single-table
    probability p. This is the documented recall dial for
    ``dedup_embedding`` at scale (L linear scans, no quadratic term);
    the recall floor vs brute-force ground truth is pinned in tests.
    Columns: id1, id2, cos_sim (bit-identical across tables for the
    same pair, so the union dedupes exactly)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("v")
    )
    per_seed = []
    for seed in seeds:
        bucketed = emb.withColumn(
            "bucket",
            vectors.hyperplane_sign_key(
                F.col("v"), EMB_LSH_PLANES, EMB_LSH_DIM, seed
            ),
        )
        per_seed.append(
            bucketed.groupBy("bucket").applyInPandas(
                _block_pairs_fn(threshold),
                "id1 long, id2 long, cos_sim double",
            )
        )
    out = per_seed[0]
    for df in per_seed[1:]:
        out = out.unionAll(df)
    return out.distinct()


def dedup_near_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the near-dedup'd corpus: keep each near-dup
    cluster's representative (the component-minimum doc_id — singletons
    are their own cluster) and drop every other member. This is the
    apply step after ``dedup_clusters``, the same shape as
    ``dedup_apply`` is for exact dups. Columns: doc_id, lang, source.
    """
    labels = dedup_clusters(spark, sf_dir)
    keep = labels.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the deduplicated corpus: keep one representative
    (min doc_id) per exact-duplicate group — the anti-join application
    step after detection. Columns: doc_id, lang, source."""
    docs = load_table(spark, sf_dir, "documents")
    keep = (
        docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


# --------------------------------------------------------------------------
# SemDeDup: clustering-based semantic dedup (Abbas et al. 2023, public).
# Distinct from the LSH family above: candidate blocking comes from a
# k-means partition of embedding space, not from hash buckets.
# --------------------------------------------------------------------------

SEMDEDUP_K = 8
SEMDEDUP_ITERS = 2
SEMDEDUP_GRID = 1e5  # integer quantization grid (see semdedup docstring)


def _semdedup_quantize(col):
    """floor(x * GRID + 0.5) as double — the integer grid both engines
    agree on bit-for-bit (|x| <= ~6 -> |xq| <= 6e5; squared-diff sums
    over 64 dims stay < 2^53, so every distance and mean below is EXACT
    double arithmetic in any summation order)."""
    return F.floor(col * F.lit(SEMDEDUP_GRID) + F.lit(0.5)).cast("double")


def _semdedup_assign(q: DataFrame, cent: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2 on the
    integer grid, ties broken by lowest cid). ``cent`` is k rows —
    broadcast, so the 'cross join' is a bounded map-side compare with
    zero shuffle; the argmin is a map-side-combinable min(struct)."""
    d2 = F.aggregate(
        F.zip_with("vq", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .select("vec_id", "vq", d2.alias("d2"), "cid")
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cid")).alias("m"),
            F.first("vq").alias("vq"),  # identical across the k copies
        )
        .select("vec_id", "vq", F.col("m.cid").alias("cluster"))
    )


def _semdedup_update(assigned: DataFrame) -> DataFrame:
    """Lloyd update: per-(cluster, dim) mean, re-quantized onto the
    integer grid. Sums of grid integers are exact doubles, so avg =
    sum/count is the identical double in Spark and DuckDB; floor(.+0.5)
    returns the next round's centroids to the grid. Shuffles only
    k x dim tiny rows after map-side partial aggregation."""
    ex = assigned.select(
        "cluster", F.posexplode("vq").alias("pos", "x")
    )
    means = ex.groupBy("cluster", "pos").agg(
        F.floor(F.avg("x") + F.lit(0.5)).cast("double").alias("cx")
    )
    return (
        means.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("a"))
        .select(
            F.col("cluster").alias("cid"),
            F.transform("a", lambda s: s["cx"]).alias("c"),
        )
    )


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = SEMDEDUP_K,
    iters: int = SEMDEDUP_ITERS,
    threshold: float = 0.3,
) -> DataFrame:
    """Semantic dedup pairs via k-means blocking (SemDeDup): cluster
    the corpus embeddings with a fixed-iteration seeded Lloyd loop,
    then emit within-cluster pairs with cosine >= threshold. The
    cluster partition — not an LSH bucket — bounds the quadratic term,
    which is the published SemDeDup recipe for web-scale corpora.

    Cross-engine determinism: k-means runs on an integer-quantized
    copy of the vectors (grid 1e-5), where squared distances and
    per-cluster means are EXACT double arithmetic — so assignments
    cannot flip on last-ulp float noise between Spark's fold order and
    DuckDB's, and the oracle unrolls the identical iterations in SQL.
    Init is the k lowest vec_ids' vectors (deterministic, no RNG);
    argmin ties break to the lowest cid on both sides. Final cosines
    are computed from the RAW vectors inside the same per-block
    grouped map as dedup_embedding (bit-identical left-fold sums).

    Scale posture (100 TB): assignment is a broadcast compare + one
    map-side-combinable argmin (no data shuffle); the update shuffles
    k*dim rows; pair generation is one shuffle of n vectors with
    |cluster|^2-bounded work per group. At scale, k grows with N to
    cap cluster size (SemDeDup uses ~50k clusters for LAION-scale),
    and oversized clusters re-split by a second-level k-means or the
    hot-bucket chunking dedup_embedding already uses. iters is fixed
    and small by design — SemDeDup's dedup quality saturates early and
    a fixed count keeps the lineage/plan bounded.

    Columns: id1, id2, cos_sim.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("v")
    )
    q = emb.select(
        "vec_id",
        "v",
        F.transform("v", lambda x: _semdedup_quantize(x)).alias("vq"),
    ).cache()  # scanned by every assign round + the final pair join
    cent = (
        q.orderBy("vec_id")
        .limit(k)  # TakeOrderedAndProject: no global sort
        .select("vec_id", "vq")
        .withColumn(
            "cid",
            # single-partition window over exactly k rows
            F.row_number().over(Window.orderBy("vec_id")) - F.lit(1),
        )
        .select(F.col("cid").cast("int").alias("cid"), F.col("vq").alias("c"))
    )
    for _ in range(iters):
        cent = _semdedup_update(_semdedup_assign(q, cent))
    final = _semdedup_assign(q, cent).select("vec_id", "cluster")
    blocked = q.select("vec_id", "v").join(final, "vec_id")
    return blocked.groupBy("cluster").applyInPandas(
        _block_pairs_fn(threshold), "id1 long, id2 long, cos_sim double"
    )


def semdedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the semantically-deduplicated corpus: SemDeDup keeps
    the lowest-id member of every cosine-duplicate relation and drops
    the rest — i.e. any vector appearing as id2 in a semdedup pair is
    removed. Columns: vec_id, label."""
    pairs = semdedup(spark, sf_dir)
    drop = pairs.select(F.col("id2").alias("vec_id")).distinct()
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.join(drop, "vec_id", "left_anti").select("vec_id", "label")


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.75,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT near-dup pairs: ordered (id1, id2)
    where C(A→B) = |A∩B| / |A| ≥ 0.75 — the quote/subset detector
    Jaccard structurally misses (a 100-word doc pasted into a 10,000-
    word doc has J ≈ 0.01 but containment 1.0; CC-style pipelines
    dedup exactly this case).

    Candidate generation is the asymmetric PPJoin prefix variant,
    exact and bounded: if C(A→B) ≥ t then A misses at most
    ⌊(1−t)·|A|⌋ of its own shingles in B, so under ANY global order
    A's first ⌊(1−t)·|A|⌋+1 shingles must hit A∩B — only the PROBE
    side is prefix-sliced; the index side posts all its shingles.
    Rarest-first ordering (the dedup_jaccard lesson) keeps probe
    prefixes on LOW-df shingles, so each inverted bucket is
    (prefix-holders × df) with df small by construction — never the
    hot-shingle d² blowup. The size filter |B| ≥ t·|A| prunes the
    rest. t = 0.75 is deliberately dyadic: (1−t)·n and t·n are then
    EXACT in IEEE doubles for any integer n, so the prefix length
    never rounds a pair away (0.8 would: 5·(1−0.8) = 0.9999…98).

    Verification is one array_intersect per candidate on the shared
    cached shingle-hash table (session-cache lifecycle, the
    dedup_jaccard convention — the executed plan reads documents
    once into the cache). NULL text contributes no shingles and pairs
    with nothing. Columns: id1 (contained doc), id2 (container),
    n1, n_common, containment.
    """
    t = float(threshold)
    ordered = _doc_shingle_hashes(spark, sf_dir).cache()
    ex = ordered.select(
        "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("h")
    )
    df_tbl = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # probe AND index need per-doc ranks in the SAME global (df, h)
    # order (the positional filter below). One row_number window over
    # the exploded postings replaces the df-join + collect_list +
    # array_sort + re-explode pipeline — stays flat (no fat array
    # rows), and the cached result feeds both join sides (session-
    # cache lifecycle, the dedup_jaccard convention). Shingle hashes
    # are distinct within a doc, so (df, h) totally orders each
    # partition and the rank is engine-deterministic.
    from pyspark.sql import Window

    w_rk = Window.partitionBy("doc_id").orderBy("df", "h")
    rk_ex = (
        ex.join(df_tbl, "h")
        .select(
            "doc_id", "n", "h", F.row_number().over(w_rk).alias("pos")
        )
        .cache()
    )
    prefix_len = F.floor(F.col("n") * (1.0 - t)).cast("int") + 1
    probe = rk_ex.filter(F.col("pos") <= prefix_len).select(
        F.col("doc_id").alias("id1"),
        F.col("n").alias("n1"),
        "h",
        F.col("pos").alias("pos1"),
    )
    index = rk_ex.select(
        F.col("doc_id").alias("id2"),
        F.col("n").alias("n2"),
        "h",
        F.col("pos").alias("pos2"),
    )
    # positional filter under the SHARED (df, h) order (the
    # dedup_jaccard argument, containment geometry): C(A→B) ≥ t needs
    # overlap α = ⌈t·n1⌉, and a match at ranks (i, j) bounds it by
    # 1 + min(n1−i, n2−j); the pair's globally-first common element is
    # inside A's prefix and B posts everything, so keep-if-any-passes
    # is exact. Measured honestly: ~15% of match rows die (sf3 twin,
    # SCALE.md §Round-15) — rarest-first ordering anti-correlates with
    # the filter, because a rare shingle ranks EARLY in every doc that
    # holds it, keeping pos2 small exactly where the match happens.
    # Kept because the cut is free at match time and grows with
    # doc-length variance (real corpora; the synthetic twin's docs are
    # near-equal length, the filter's worst case).
    alpha_c = F.ceil(F.col("n1").cast("double") * F.lit(t))
    ubound_c = F.lit(1) + F.least(
        F.col("n1") - F.col("pos1"), F.col("n2") - F.col("pos2")
    )
    cand = (
        probe.join(
            index,
            (probe["h"] == index["h"])
            & (F.col("id1") != F.col("id2"))
            & (F.col("n2") >= F.col("n1") * t)
            & (ubound_c >= alpha_c),
        )
        .select("id1", "id2")
        .distinct()
    )
    # NO _spread_verify here (unlike dedup_jaccard/dedup_near):
    # t = 0.75 prunes candidates so hard that the verify stage is
    # cheap, and the interleaved 5-rep A/B measured the extra exchange
    # a 0.63x LOSS on this key — spread only where the verify work
    # amortizes it (the dedup_jaccard/lsh_probability wins, 1.8-2.1x).
    a = ordered.select(F.col("doc_id").alias("id1"), F.col("hs").alias("hs1"))
    b = ordered.select(F.col("doc_id").alias("id2"), F.col("hs").alias("hs2"))
    inter = F.size(F.array_intersect("hs1", "hs2"))
    return (
        cand.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            F.size("hs1").cast("long").alias("n1"),
            inter.cast("long").alias("n_common"),
            (inter.cast("double") / F.size("hs1").cast("double")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= t)
    )


def lsh_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band S-curve audit of MinHash-LSH against the exact near-dup
    ground truth: for every exact Jaccard ≥ 0.5 pair, the analytic
    catch probability p = 1 − (1 − J^r)^b of the production (b=8,
    r=4) banding, alongside whether LSH actually produced the pair as
    a candidate — the dedup twin of ``ann_recall`` (an approximate
    pipeline without a measured catch rate is a silent-quality bug).

    The exact side is the PPJoin pair set (`dedup_jaccard`), bounded
    and already oracle-anchored; the LSH side is
    ``minhash_candidates`` over the SAME shared shingle-hash cache,
    so both legs cost one tokenize/shingle pass. J is recomputed as
    ONE division of exact intersect/union integers, p is a snapped
    double chain off that division (mirrored in SQL), and ``found``
    comes from a left join against the candidate set. A J = 1 pair
    has p = 1 and is deterministically found (identical signatures —
    the ``dedup_near_checked`` guarantee), so ``catch_ok`` =
    (jaccard < 1) OR actually-found is PROVABLY true on every row —
    the checkable contract that keeps the real LSH leg in-band while
    the sub-1 catch rate stays statistical (pinned by the S-curve
    test in tests/test_extensions.py, where a tolerance belongs).
    Columns: id1, id2, jaccard, p_catch, catch_ok.
    """
    sh = _doc_shingle_hashes(spark, sf_dir).cache()
    exact = dedup_jaccard(spark, sf_dir, hashed_shingles=sh)
    cand = minhash_candidates(spark, sf_dir, hashed_shingles=sh).select(
        "id1", "id2", F.lit(True).alias("found")
    )
    b, r = 8, 4
    j = F.col("jaccard")
    p = F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(j, F.lit(float(r))), F.lit(float(b)))
    snap = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return exact.join(cand, ["id1", "id2"], "left").select(
        "id1",
        "id2",
        j.alias("jaccard"),
        snap(p).alias("p_catch"),
        (
            (j < F.lit(1.0))
            | F.coalesce(F.col("found"), F.lit(False))
        ).alias("catch_ok"),
    )
