"""Vector search over the ``embeddings`` table (north-star X3/X5).

Every embedding key is built from a few shared pieces:

- :func:`load_vectors` — the one scan: (vec_id, label, v) with the
  float array widened to doubles;
- :func:`_top_k` — the one single-query ranking tail: cosine against
  the broadcast query vector, one global ordered limit
  (``TakeOrderedAndProject``, no shuffle of the data itself);
- :func:`_ivf_scored` — every vector scored against every
  hash-sampled centroid, the base frame of the IVF assignment
  (:func:`_ivf_assign`), the query's probe list (:func:`_ivf_probes`)
  and, with the PQ codebook, the PQ codes (:func:`_pq_codes`);
- :func:`_knn` — the per-query neighbour frame of the kNN keys;
- :func:`block_pairs` — the one per-block pairwise-cosine grouped map,
  shared with the embedding dedup keys in ``dedup.py``.

Brute-force cosine top-k (``sim_topk``) is the exact baseline; LSH
bucketing (``sim_topk_lsh``), the IVF coarse quantizer
(``sim_topk_ivf``, ``sim_topk_ivf_multiprobe``) and IVF-PQ
(``sim_topk_ivf_pq``) are the scale paths, probed against it in tests
and audited in-band by ``ann_recall``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata1_spark.functions import vectors
from bigdata1_spark.operators.basket import snap6
from bigdata1_spark.sources.tables import load_table

QUERY_VEC_ID = 0  # deterministic query: the embedding of vec_id 0
TOP_K = 20
EMB_DIM = 64  # width of the testdata embeddings (hyperplane and PQ layout)
# sim_topk_lsh's bucket key, which ann_recall audits: 2^4 buckets.
LSH_PLANES = 4
LSH_SEED = 7


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as (vec_id, label, v), ``v`` the embedding
    widened to ARRAY<DOUBLE> — the scan every vector key starts from
    (column pruning drops ``label`` where it is unused)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vectors.as_double(F.col("embedding")).alias("v")
    )


def _query(emb: DataFrame, *extra: Column) -> DataFrame:
    """The one-row query side: vec_id 0's vector as ``qv`` (plus
    ``extra`` columns of the same row)."""
    return emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), *extra
    )


def _top_k(pairs: DataFrame) -> DataFrame:
    """The ``TOP_K`` candidates nearest the query by cosine, the query
    itself excluded. ``pairs`` holds vec_id, label, v and the query's
    ``qv``; the global ordered limit plans TakeOrderedAndProject (top-k
    without a full sort). Columns: vec_id, label, cos_sim."""
    return (
        pairs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id", "label",
            vectors.cosine(F.col("v"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _lsh_bucket() -> Column:
    """sim_topk_lsh's random-hyperplane bucket key of ``v``."""
    return vectors.hyperplane_sign_key(
        F.col("v"), LSH_PLANES, EMB_DIM, seed=LSH_SEED
    )


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k vs the vec_id=0 embedding.

    1-row query side cross-joined (broadcast) into the scan; global
    ordered limit → TakeOrderedAndProject (top-k without a full sort).
    Columns: vec_id, label, cos_sim.
    """
    emb = load_vectors(spark, sf_dir)
    return _top_k(emb.crossJoin(F.broadcast(_query(emb))))


def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: search only vectors in the query's LSH bucket.

    At 100 TB the bucket key is a partition/cluster column and this scan
    prunes to ~1/2^planes of the data; recall vs exact top-k is probed
    in tests. Rows-only driver check. Columns: vec_id, label, cos_sim.
    """
    emb = load_vectors(spark, sf_dir).withColumn("bucket", _lsh_bucket())
    q = _query(emb, F.col("bucket").alias("qb"))
    return _top_k(emb.join(F.broadcast(q), F.col("bucket") == F.col("qb")))


IVF_CELLS = 8  # coarse quantizer size; at 100 TB: O(sqrt(n)) cells
IVF_PROBES = 3


def _hash_sampled_centroids(emb: DataFrame, n: int) -> DataFrame:
    """The ``n`` vectors with smallest ``md5(vec_id)`` as (cid, cv) —
    a deterministic, engine-reproducible sample (a k-means refinement
    would drift between engines; hash-sampling keeps the oracle exact
    while exercising the identical plan shape).

    Cached: every IVF/PQ key references its centroid/codebook table
    from several plan branches (assignment, query scoring, probe
    ranking, per-subspace ADC lookups), and each aliased reference
    would otherwise re-run the full-corpus TakeOrdered sample —
    sim_topk_ivf_pq's plan carried SIX unfiltered embeddings scans
    from this alone (the dsir_sample lineage class). The cache is n
    rows (n ≤ 32); at 100 TB the codebook is trained offline and this
    table is an ingest-time artifact, as the callers' docstrings state.
    """
    return (
        emb.select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n)
        .select("cid", "cv")
        .cache()
    )


def _ivf_scored(emb: DataFrame) -> DataFrame:
    """Every vector scored against every one of the ``IVF_CELLS``
    hash-sampled centroids (columns: vec_id, label, v, cid, cscore) —
    the base frame the assignment, the probe list and the PQ codes all
    derive from."""
    cents = _hash_sampled_centroids(emb, IVF_CELLS)
    return emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "v", "cid",
        vectors.cosine(F.col("v"), F.col("cv")).alias("cscore"),
    )


def _ivf_assign(scored: DataFrame) -> DataFrame:
    """Argmax cell per vector (columns: vec_id, label, v, cell)."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cscore"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "v", F.col("cid").alias("cell"))
    )


def _ivf_probes(scored: DataFrame, n_probes: int) -> DataFrame:
    """The ``n_probes`` cells whose centroids are nearest the query,
    each row carrying the query vector (columns: pcell, qv). The ranking
    is the assignment's (cscore DESC, cid ASC) order, so one probe is
    exactly the query's own argmax cell. n_cells rows, ordered limit →
    TakeOrderedAndProject, driver-free, broadcast onward."""
    return (
        scored.filter(F.col("vec_id") == QUERY_VEC_ID)
        .orderBy(F.desc("cscore"), F.asc("cid"))
        .limit(n_probes)
        .select(F.col("cid").alias("pcell"), F.col("v").alias("qv"))
    )


def _ivf_topk(spark: SparkSession, sf_dir: str, n_probes: int) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer:
    assign every vector to its nearest centroid cell, then search only
    the ``n_probes`` cells nearest the query.

    Assignment is a broadcast of the tiny centroid table against the
    scan with an argmax window per vector; the probe list is broadcast
    and equi-joined on the cell column. At 100 TB the assignment is
    precomputed at ingest and ``cell`` is a partition column, so a
    probe is a partition prune, never a corpus shuffle. Probing all
    ``IVF_CELLS`` cells is brute force. Columns: vec_id, label, cos_sim.
    """
    scored = _ivf_scored(load_vectors(spark, sf_dir))
    probes = F.broadcast(_ivf_probes(scored, n_probes))
    return _top_k(
        _ivf_assign(scored).join(probes, F.col("cell") == F.col("pcell"))
    )


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe IVF top-k: search only the query's own cell (see
    :func:`_ivf_topk`). Single-probe recall is the stated contract;
    ``sim_topk_ivf_multiprobe`` is the recall dial.
    Columns: vec_id, label, cos_sim."""
    return _ivf_topk(spark, sf_dir, 1)


def sim_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-probe: search the ``IVF_PROBES`` cells whose
    centroids are nearest the QUERY, not just the argmax cell — the
    standard recall dial for inverted-file ANN (a near-boundary query
    vector's true neighbors often live in the runner-up cells). Same
    plan as single-probe with a longer probe list; recall vs the exact
    ``sim_topk`` is pinned in tests to be ≥ the single-probe run.
    Columns: vec_id, label, cos_sim.
    """
    return _ivf_topk(spark, sf_dir, IVF_PROBES)


def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings joined to their documents (vec_id = doc_id): typed
    array column + text metadata side by side — the multimodal-row
    shape. Columns: doc_id, lang, source, n_chars, label, dim."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select(
            "doc_id", "lang", "source", "n_chars", "label",
            F.size("embedding").cast("long").alias("dim"),
        )
    )


N_KNN_QUERIES = 8
KNN_K = 5


def _knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each query vec_id < ``N_KNN_QUERIES``, its ``KNN_K`` cosine
    neighbours from the rest of the corpus.

    The query side broadcasts (Q rows), so the corpus never shuffles
    for the join; per-query ranking is a window with a rank predicate
    Spark rewrites to WindowGroupLimit — each task keeps a k-heap per
    query instead of sorting Q×n rows. Columns: q_id, vec_id, label,
    cos_sim, rnk.
    """
    emb = load_vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        emb.filter(F.col("vec_id") >= N_KNN_QUERIES)
        .crossJoin(F.broadcast(queries))
        .select(
            "q_id", "vec_id", "label",
            vectors.cosine(F.col("v"), F.col("qv")).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= KNN_K)
    )


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: for each of a small query set (vec_id <
    ``N_KNN_QUERIES``), the top-``KNN_K`` cosine neighbors from the
    rest of the corpus — the shape that labels a dataset against a
    pool of probes (retrieval eval, cluster seeding, kNN classify).
    Wall-clock is one corpus scan regardless of Q, vs Q separate
    sim_topk runs (scale shape: :func:`_knn`).
    Columns: q_id, vec_id, cos_sim, rnk.
    """
    return _knn(spark, sf_dir).drop("label")


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm — the sanity/profiling pass before any cosine
    pipeline (un-normalized or degenerate vectors distort every
    downstream similarity).

    Pure map over the scan: the norm is the module's order-stable fold
    (``vectors.norm``), zero shuffles, codegen per-row. Floor-6 output
    rounding per the cross-engine double discipline.
    Columns: vec_id, label, norm.
    """
    emb = load_vectors(spark, sf_dir)
    return emb.select(
        "vec_id",
        "label",
        snap6(vectors.norm(F.col("v"))).alias("norm"),
    )


def centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — cluster
    profiling / drift baseline over the embedding column.

    Cross-engine determinism without bounded-state tricks: coordinates
    quantize to exact integers (floor(x·1e6) — quantization error
    ≤ 1e-6, irrelevant for profiling) so the per-group SUM is integer
    arithmetic — order-free, partial-aggregable, correct at any group
    size. The centroid then divides two exact numbers in one shared
    expression. posexplode is array-local; the single shuffle is the
    (label, dim) aggregate with map-side combine.
    Columns: label, dim, n, centroid.
    """
    emb = load_vectors(spark, sf_dir)
    exploded = emb.select(
        "label", F.posexplode(F.col("v")).alias("pos", "e")
    ).select(
        "label",
        (F.col("pos") + F.lit(1)).alias("dim"),
        F.floor(F.col("e") * F.lit(1e6)).alias("q"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            "n",
            ((F.col("sq").cast("double") / F.lit(1e6))
             / F.col("n").cast("double")).alias("centroid"),
        )
    )


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification for the ``knn_join`` query set:
    each query's predicted label is the most common label among its
    ``KNN_K`` cosine neighbors (ties break to the smaller label).

    The :func:`_knn` neighbour frame plus a tiny (Q × ≤k)-row vote
    count and an argmax window. Columns: q_id, pred_label, votes.
    """
    votes = _knn(spark, sf_dir).groupBy("q_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("q_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "votes")
    )


PQ_SUBSPACES = 4   # M: subvectors per embedding
PQ_CODEWORDS = 8   # K: codebook size per subspace
PQ_SUBDIM = EMB_DIM // PQ_SUBSPACES


def _pq_subdist(s: int, vcol: str) -> Column:
    """Squared L2 between subvector ``s`` of ``vcol`` and of the
    codeword ``cv`` (dims ``[s*PQ_SUBDIM, (s+1)*PQ_SUBDIM)``), as an
    index-ordered fold — bit-reproducible vs DuckDB's ``list_reduce``."""
    lo = s * PQ_SUBDIM + 1  # 1-based slice start
    return F.expr(
        f"aggregate(zip_with(slice({vcol}, {lo}, {PQ_SUBDIM}),"
        f" slice(cv, {lo}, {PQ_SUBDIM}),"
        " (a, b) -> (a - b) * (a - b)),"
        " 0D, (acc, x) -> acc + x)"
    )


def _pq_codes(rows: DataFrame, cents: DataFrame, keys: list[str]) -> DataFrame:
    """PQ-encode ``rows`` (``keys`` + v) against the codebook ``cents``:
    per subspace ``s`` the nearest codeword as struct ``s{s}`` = (d, c),
    a lexicographic struct-min, so ties break to the smaller codeword
    id in both engines. One broadcast of the codebook against the rows,
    then one groupBy on ``keys`` whose partial aggregation is the
    struct-min itself — no shuffle of the vectors."""
    return rows.crossJoin(F.broadcast(cents)).groupBy(*keys).agg(
        *[
            F.min(
                F.struct(
                    _pq_subdist(s, "v").alias("d"), F.col("cid").alias("c")
                )
            ).alias(f"s{s}")
            for s in range(PQ_SUBSPACES)
        ]
    )


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the memory side of large-scale ANN
    (IVF-PQ): each vector is encoded as ``PQ_SUBSPACES`` small codes,
    one per subspace, compressing a 64-d float vector to that many
    bytes while supporting asymmetric distance scans over the codes.

    Codebooks are hash-sampled like ``_ivf_scored``'s centroids (the
    ``PQ_CODEWORDS`` vectors with smallest ``md5(vec_id)``; codeword
    ``j`` of subspace ``s`` is that subvector of seed ``j``) — a
    k-means refinement would drift between engines, hash-sampling keeps
    the oracle exact while the plan shape is identical. Encoding is
    :func:`_pq_codes`. Columns: vec_id, code_1..code_m, recon_err (sum
    of the m subspace distances, 1e-6 floor-rounded).
    """
    emb = load_vectors(spark, sf_dir)
    cents = _hash_sampled_centroids(emb, PQ_CODEWORDS)
    best = _pq_codes(emb, cents, ["vec_id"])
    err = sum(F.col(f"s{s}.d") for s in range(PQ_SUBSPACES))
    return best.select(
        "vec_id",
        *[
            F.col(f"s{s}.c").alias(f"code_{s + 1}")
            for s in range(PQ_SUBSPACES)
        ],
        snap6(err).alias("recon_err"),
    )


def sim_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ ANN query — the production composition of the coarse
    quantizer (``sim_topk_ivf``) and product quantization
    (``pq_encode``): probe the ``IVF_PROBES`` nearest cells, then rank
    candidates by ASYMMETRIC distance computed from their m-byte PQ
    codes against a per-query distance table, never touching the full
    vectors of the candidates.

    This is the memory story of billion-scale ANN: the scan side needs
    only (cell, code_1..code_m) — m bytes + a partition key per vector
    — while the query precomputes a k×m table of
    subvector-to-codeword distances (here k·m = 32 doubles, broadcast).
    ADC ranking is then m tiny broadcast joins (code → table row) and
    one sum; no corpus shuffle anywhere. The scale plan: cell is a
    partition column (probe = partition prune), codes live in the
    parquet payload.

    Determinism mirrors pq_encode: hash-sampled codebooks, index-
    ordered folds for every subdistance, lexicographic argmin, the ADC
    sum left-associated identically in SQL, and the output rounded at
    1e-6 with ordering on the ROUNDED value + vec_id in both engines.
    Columns: vec_id, label, adc_dist (ascending = nearest).
    """
    emb = load_vectors(spark, sf_dir)
    scored = _ivf_scored(emb)
    cents = _hash_sampled_centroids(emb, PQ_CODEWORDS)
    codes = _pq_codes(_ivf_assign(scored), cents, ["vec_id", "label", "cell"])

    # Per-query distance table: k rows of (cid, qd_0..qd_{m-1}),
    # referenced once per subspace by the m ADC joins below — cached so
    # the query-side branch (pruned vec_id=0 scan + codebook)
    # materializes once instead of m times.
    qtab = _query(emb).crossJoin(F.broadcast(cents)).select(
        "cid",
        *[_pq_subdist(s, "qv").alias(f"qd{s}") for s in range(PQ_SUBSPACES)],
    ).cache()

    probes = _ivf_probes(scored, IVF_PROBES).select("pcell")
    cand = codes.join(
        F.broadcast(probes), F.col("cell") == F.col("pcell")
    ).filter(F.col("vec_id") != QUERY_VEC_ID)
    # ADC: m broadcast lookups (code_s → query table row s).
    for s in range(PQ_SUBSPACES):
        qs = qtab.select(
            F.col("cid").alias(f"qc{s}"), F.col(f"qd{s}").alias(f"adc{s}")
        )
        cand = cand.join(
            F.broadcast(qs), F.col(f"s{s}.c") == F.col(f"qc{s}")
        )
    adc = F.col("adc0")
    for s in range(1, PQ_SUBSPACES):
        adc = adc + F.col(f"adc{s}")
    return (
        cand.select("vec_id", "label", snap6(adc).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def block_pairs(blocked: DataFrame, key: str, threshold: float) -> DataFrame:
    """Pairwise cosine inside every ``key`` block of ``blocked`` (vec_id,
    v, key): the (id1 < id2) pairs with cos ≥ ``threshold``, computed
    in one ``applyInPandas`` grouped map per block. Columns: id1, id2,
    cos_sim.

    One shuffle of n vectors, |block|²-bounded work per group, and the
    Arrow transfer carries the n input vectors — not the n² joined
    pairs (6× faster than the pair-join + per-pair-UDF formulation).
    Row-wise ``cumsum`` is the sequential left fold, so every dot and
    norm is bit-identical to the ``F.aggregate`` formulation and to
    DuckDB's list-fold semantics (verified with exceptAll == 0 against
    the column-expression version). Zero-norm vectors are dropped (they
    have no direction; NaN cosine orders differently in DuckDB)."""

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy())
        nrm = np.sqrt((V * V).cumsum(axis=1)[:, -1])
        keep = nrm > 0
        ids, V, nrm = ids[keep], V[keep], nrm[keep]
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

    return blocked.select(key, "vec_id", "v").groupBy(key).applyInPandas(
        pairs, "id1 long, id2 long, cos_sim double"
    )


MUTUAL_KNN_PLANES = 3  # 2^3 coarse buckets
MUTUAL_KNN_SEED = 19
# Adaptive refinement (the quad-tree split): a coarse bucket whose
# occupancy exceeds the cap re-blocks on 7 planes (same seed — the
# first 3 planes are the SAME literals, so the fine key refines the
# coarse one and split blocks never mix across coarse buckets). Block
# occupancy is bounded ~CAP regardless of corpus size, which keeps the
# per-block quadratic kernel flat: with static 3-plane blocks the
# r14 bench showed 0.31 s -> 19.2 s (38x) from sf0.1 to sf1 as bucket
# occupancy grew linearly with rows.
MUTUAL_KNN_BLOCK_CAP = 512
MUTUAL_KNN_SPLIT_PLANES = 7


def mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs within LSH blocks: (a, b) where b
    is a's cosine top-1 AND a is b's top-1 — the reciprocal-best-match
    primitive (duplicate canonicalization, bitext mining, entity
    alignment) whose mutuality condition kills the asymmetric
    near-misses a plain top-1 list keeps.

    Within-block semantics, stated exactly like ``dedup_embedding``:
    the bucket is a pure seeded-hyperplane function of the vector, so
    the same blocking runs on any corpus and the oracle rebuilds it
    from the same plane literals. Pair scores come from the shared
    per-block grouped map (:func:`block_pairs` with the threshold
    disabled — every cosine is bit-identical to the SQL fold);
    symmetrize, take per-vector top-1 with a (cos DESC, id ASC)
    total-order window, and self-join the two directions. Zero-norm
    vectors are dropped by the kernel; singleton buckets emit nothing
    (no neighbor in scope).
    At 100 TB: one shuffle on the bucket key, block work bounded by
    ``MUTUAL_KNN_BLOCK_CAP``² per task via the occupancy-driven
    quad-tree split (hot coarse buckets re-block on the 7-plane
    refinement of the SAME seeded planes — deterministic, mirrored in
    SQL), top-1 is a WindowGroupLimit heap — nothing quadratic in the
    corpus. Columns: vec_a, vec_b, cos_sim.
    """
    v = F.col("v")
    bucketed = load_vectors(spark, sf_dir).withColumn(
        "b_coarse",
        vectors.hyperplane_sign_key(
            v, MUTUAL_KNN_PLANES, EMB_DIM, MUTUAL_KNN_SEED
        ),
    ).withColumn(
        "b_fine",
        vectors.hyperplane_sign_key(
            v, MUTUAL_KNN_SPLIT_PLANES, EMB_DIM, MUTUAL_KNN_SEED
        ),
    )
    # hot coarse buckets split to the fine key (+2^planes keeps the
    # two namespaces disjoint); occupancy drives the choice, so block
    # size is bounded at any corpus size and the oracle mirrors the
    # same CASE over a COUNT() window
    occ = F.count(F.lit(1)).over(Window.partitionBy("b_coarse"))
    blocked = bucketed.withColumn(
        "bucket",
        F.when(
            occ > MUTUAL_KNN_BLOCK_CAP,
            F.col("b_fine") + F.lit(2 ** MUTUAL_KNN_PLANES),
        ).otherwise(F.col("b_coarse")),
    )
    # cached: the symmetrize union's two branches would otherwise each
    # run the grouped-map kernel (the dsir multi-consumer-lineage class)
    pairs = block_pairs(blocked, "bucket", -2.0).cache()
    sym = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("nbr"), "cos_sim"
    ).unionAll(
        pairs.select(
            F.col("id2").alias("src"), F.col("id1").alias("nbr"), "cos_sim"
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("cos_sim"), F.asc("nbr")
    )
    # cached: the mutuality self-join consumes top1 on BOTH sides
    top1 = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .cache()
    )
    x, y = top1.alias("x"), top1.alias("y")
    return x.join(
        y,
        (F.col("x.src") == F.col("y.nbr"))
        & (F.col("x.nbr") == F.col("y.src"))
        & (F.col("x.src") < F.col("x.nbr")),
    ).select(
        F.col("x.src").alias("vec_a"),
        F.col("x.nbr").alias("vec_b"),
        F.col("x.cos_sim").alias("cos_sim"),
    )


# Query-sample size for the ANN recall audit: brute-force ground truth
# is affordable on a bounded query sample at any corpus scale (the
# standard production recall protocol); 8 keeps the oracle cheap while
# giving per-query variance something to show.
ANN_QUERIES = 8
# Salt fan-out for the two-phase per-query top-k: stage 1 keeps each
# (query, salt)'s local top-K, stage 2 ranks the <= SALT*K survivors.
ANN_SALT = 32


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the LSH-bucketed ANN path against exact
    brute-force cosine top-k, per query — the eval every production ANN
    deployment ships next to its index (approximate retrieval without a
    measured recall is a silent-quality bug, not a feature).

    Queries are the bounded ``ANN_QUERIES`` sample (vec_id <
    ANN_QUERIES, broadcast); ground truth scores the full corpus per
    query. The per-query top-k is TWO-PHASE: stage 1 ranks inside
    (query, vec_id % ANN_SALT) — every global top-k row is necessarily
    inside its own salt bucket's top-k, so keeping k per (query, salt)
    is lossless — and stage 2 ranks the ≤ SALT·k survivors. The big
    N·NQ score set therefore shuffles into NQ·SALT partitions instead
    of NQ hot ones (the plain window would funnel the whole corpus
    through 8 tasks at 100 TB). The approximate side is
    ``sim_topk_lsh``'s bucket key (:func:`_lsh_bucket`). Both top-k
    orders are total — (cos_sim DESC, vec_id ASC) — so the set
    intersection is engine-free; recall = |approx ∩ exact| / |exact| is
    ONE snapped division of exact counts, NULL only when a query has no
    candidates at all. Columns: qid, n_exact, n_approx, n_common,
    recall_at_k.
    """
    emb = load_vectors(spark, sf_dir).withColumn(
        "bucket", _lsh_bucket()
    ).cache()
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (F.col("bucket") == F.col("qb")).alias("in_bucket"),
            vectors.cosine(F.col("v"), F.col("qv")).alias("cs"),
        )
    )

    def topk(df):
        w1 = Window.partitionBy(
            "qid", F.pmod(F.col("vec_id"), F.lit(ANN_SALT))
        ).orderBy(F.desc("cs"), F.asc("vec_id"))
        w2 = Window.partitionBy("qid").orderBy(
            F.desc("cs"), F.asc("vec_id")
        )
        pre = (
            df.withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") <= TOP_K)
            .drop("rn")
        )
        return (
            pre.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "vec_id")
        )

    exact = topk(scored)
    approx = topk(scored.filter(F.col("in_bucket")))
    ne = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    na = approx.groupBy("qid").agg(F.count(F.lit(1)).alias("n_approx"))
    nc = (
        exact.join(approx, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    z = F.lit(0).cast("long")
    return (
        ne.join(na, "qid", "left")
        .join(nc, "qid", "left")
        .select(
            "qid",
            "n_exact",
            F.coalesce(F.col("n_approx"), z).alias("n_approx"),
            F.coalesce(F.col("n_common"), z).alias("n_common"),
            F.when(
                F.col("n_exact") > 0,
                snap6(
                    F.coalesce(F.col("n_common"), z).cast("double")
                    / F.col("n_exact").cast("double")
                ),
            ).alias("recall_at_k"),
        )
    )
