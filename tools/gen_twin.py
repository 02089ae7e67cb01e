"""Build a stress twin of a testdata directory, one axis at a time.

Every twin keeps oracle validity: each transformation is seeded and
deterministic, so `tools/local_correctness.py` can sweep the output
directory unchanged against the same DuckDB oracles. One function per
axis returns the tables it rewrites (a ``pyarrow.Table``, or a DuckDB
``SELECT`` written with ``COPY``) plus its MANIFEST fields;
``write_twin`` copies every other table verbatim, writes the rewritten
ones and the MANIFEST.

Usage: python tools/gen_twin.py AXIS [out_dir] [src_dir]

    axis      default out_dir   default src_dir
    sf1       .sf1data          testdata sf0.1  (GEN_REPLICAS=30 -> sf3)
    skew      .skewdata         .sf1data
    nulls     .nulldata         testdata sf0.01 (NULL_RATE=0.3 -> nulls30)
    empty     .emptydata        testdata sf0.01
    unicode   .unicodedata      testdata sf0.01
    fatdocs   .fatdata          testdata sf0.01
    timewarp  .timewarpdata     testdata sf0.01

Relative defaults live at the repo root (all gitignored).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA = "/root/testdata"

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _md5(*parts, digits: int = 12) -> int:
    """Seeded per-row hash: the leading hex digits of md5("a|b|...")."""
    key = "|".join(str(p) for p in parts)
    return int(hashlib.md5(key.encode()).hexdigest()[:digits], 16)


def _set(tbl: pa.Table, col: str, values) -> pa.Table:
    """Replace one column, keeping its field (name, type, nullability)."""
    i = tbl.schema.get_field_index(col)
    field = tbl.schema.field(i)
    return tbl.set_column(i, field, pa.array(values, type=field.type))


# --- sf1 ------------------------------------------------------------------

# GEN_REPLICAS=30 turns the same generator into an sf3 third scale
# point (two points give a ratio; three give a slope with confidence)
REPLICAS = int(os.environ.get("GEN_REPLICAS", "10"))
SF1_SEED = 20260814

# key column -> tables that carry it (offset = replica * N(owning table))
KEYED = {
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [
        ("l_orderkey", "orders"),
        ("l_partkey", "part"),
        ("l_suppkey", "supplier"),
    ],
    "events": [("event_id", "events"), ("user_id", "users")],
}


def sf1(src: str):
    """Bench-only sf1 dataset (10x sf0.1) for the scaling curve.

    VERDICT r07 item 1: every 100 TB argument in SCALE.md was plan-shape
    only; this axis provides the second measured scale point. It is NOT
    driver testdata — correctness oracles keep running against the
    driver's read-only testdata dirs — so distributional fidelity
    matters, not bit parity with the driver's generator.

    Strategy: 10 key-shifted replicas of sf0.1. Fact/dim keys are offset
    by replica * N(table) so FK joins stay consistent within a replica
    and key cardinality grows 10x (the realistic scale direction: more
    customers / users / docs, not denser groups). region/nation stay
    fixed (TPC-H dims are SF-invariant). Two tables are NOT copied
    verbatim:

    - documents: replicas > 0 get REGENERATED text (seeded numpy draws
      over the sf0.1 vocabulary, per-doc token count preserved) —
      verbatim copies would make every replica group an artificial
      10-doc near-dup cluster and quadratically distort the dedup keys'
      outputs.
    - embeddings: replicas > 0 add seeded N(0, 0.02) noise per vector,
      so cluster/label structure survives for the IVF keys but no
      vector is an exact duplicate (which would put 10 identical points
      in every LSH bucket).

    ~170 MB of parquet at the default 10 replicas — gitignored.
    """
    con = duckdb.connect()

    def scan(t: str) -> str:
        return f"read_parquet('{src}/{t}.parquet')"

    counts = {
        t: con.execute(f"SELECT count(*) FROM {scan(t)}").fetchone()[0]
        for t in [
            "customer", "supplier", "part", "orders", "lineitem",
            "events", "documents", "embeddings",
        ]
    }
    # Replica offsets stride by max(key)+1, NOT count(*): with sparse
    # keys (standard TPC-H o_orderkey peaks near 4x count) a count
    # stride would overlap replicas, producing duplicate primary keys
    # and many-to-many FK joins that distort the bench (ADVICE r8).
    # This sf0.1 dataset happens to be dense 0-based, so both agree —
    # the stride form stays correct if the source generator changes.
    _PK = {
        "customer": "c_custkey", "supplier": "s_suppkey",
        "part": "p_partkey", "orders": "o_orderkey",
        "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id",
    }
    sizes = dict(counts)
    for t, pk in _PK.items():
        sizes[t] = con.execute(
            f"SELECT max({pk}) + 1 FROM {scan(t)}"
        ).fetchone()[0]
    sizes["users"] = con.execute(
        f"SELECT max(user_id) + 1 FROM {scan('events')}"
    ).fetchone()[0]

    # SF-invariant dims: straight copy through DuckDB
    out = {t: f"SELECT * FROM {scan(t)}" for t in ("region", "nation")}

    # key-shifted replicas via one UNION-free generate_series cross join
    for t, keys in KEYED.items():
        offsets = ", ".join(
            f"{col} + r.i * {sizes[owner]} AS {col}" for col, owner in keys
        )
        keyed_cols = {col for col, _ in keys}
        rest = [
            c[0]
            for c in con.execute(f"DESCRIBE SELECT * FROM {scan(t)}").fetchall()
            if c[0] not in keyed_cols
        ]
        cols = ", ".join([offsets] + [f'"{c}"' for c in rest])
        out[t] = f"""
              SELECT {cols}
              FROM {scan(t)} CROSS JOIN
                   (SELECT unnest(generate_series(0, {REPLICAS - 1})) AS i) r
            """

    # documents: replica 0 verbatim; replicas 1..9 regenerated text over
    # the sf0.1 vocabulary with per-doc token counts preserved
    docs = con.execute(
        f"SELECT doc_id, text, lang, source FROM {scan('documents')} "
        "ORDER BY doc_id"
    ).fetchall()
    vocab = sorted({w for _, text, _, _ in docs for w in text.split()})
    rng = np.random.default_rng(SF1_SEED)
    n_docs = sizes["documents"]
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for rep in range(REPLICAS):
        for doc_id, text, lang, source in docs:
            if rep == 0:
                new_text = text
            else:
                n_tok = len(text.split())
                idx = rng.integers(0, len(vocab), size=n_tok)
                new_text = " ".join(vocab[j] for j in idx)
            rows["doc_id"].append(doc_id + rep * n_docs)
            rows["text"].append(new_text)
            rows["lang"].append(lang)
            rows["source"].append(source)
            rows["n_chars"].append(len(new_text))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
            "source": pa.array(rows["source"], pa.string()),
            "n_chars": pa.array(rows["n_chars"], pa.int64()),
        }
    )

    # embeddings: replica 0 verbatim; later replicas perturbed with
    # seeded gaussian noise (cluster structure kept, exact dups avoided)
    emb = con.execute(
        f"SELECT vec_id, embedding, label FROM {scan('embeddings')} "
        "ORDER BY vec_id"
    ).fetchall()
    n_vec = sizes["embeddings"]
    base = np.array([e[1] for e in emb], dtype=np.float32)
    vec_ids, vecs, labels = [], [], []
    for rep in range(REPLICAS):
        noise = (
            np.zeros_like(base)
            if rep == 0
            else rng.normal(0.0, 0.02, size=base.shape).astype(np.float32)
        )
        pert = base + noise
        for k, (vid, _, lab) in enumerate(emb):
            vec_ids.append(vid + rep * n_vec)
            vecs.append(pert[k].tolist())
            labels.append(lab)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out, {
        "replicas": REPLICAS,
        "seed": SF1_SEED,
        "rows": {
            t: (counts[t] * REPLICAS
                if t not in ("region", "nation") else None)
            for t in counts
        },
    }


# --- skew -----------------------------------------------------------------

SKEW_SEED = 20260815
ZIPF_A = 1.2

# table -> list of (fk_column, domain_table, domain_pk)
REMAP = {
    "events": [("user_id", "events", "user_id")],
    "lineitem": [
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "orders": [("o_custkey", "customer", "c_custkey")],
}


def _zipf_keys(rng: np.random.Generator, n: int, domain: int) -> np.ndarray:
    """n Zipf(ZIPF_A) draws folded onto [0, domain): value k gets mass
    ~ (k+1)^-a, so key 0 is the hottest (~1/zeta(a) of all rows)."""
    z = rng.zipf(ZIPF_A, size=n)
    return ((z - 1) % domain).astype(np.int64)


def skew(src: str):
    """Zipf-skewed twin of the sf1 bench dataset.

    VERDICT r09 item 7: the sf0.1→sf1 curve measures volume scaling on
    near-uniform keys, which never exercises the skew machinery
    (`plans/skew.py` salting, AQE skew-join splitting, per-key state on
    a hot user). This axis rewrites the sf1 FK columns through seeded
    Zipf draws so the hot-key pathologies a 100 TB power-law workload
    hits are actually present:

    - ``events.user_id``     → Zipf over the user domain (one user owns
      ~18% of all events at a=1.2: hot sessionize/user-window/
      stream-state key).
    - ``lineitem.l_partkey`` / ``l_suppkey`` → Zipf over part/supplier
      domains (hot join + GROUP BY keys for the TPC-H family).
    - ``orders.o_custkey``   → Zipf over the customer domain (hot
      customer for q13/q18/q22 shapes).

    Primary keys and all other columns are untouched, so every FK still
    resolves against the same dims and all oracles remain valid — the
    correctness harness runs against this directory unchanged (the
    point: value-check skew-sensitive keys ON skewed data, not just time
    them). region/nation/customer/supplier/part/documents/embeddings are
    copied verbatim from the sf1 source.
    """
    con = duckdb.connect()
    rng = np.random.default_rng(SKEW_SEED)
    out, stats = {}, {}
    for t, remaps in REMAP.items():
        tbl = pq.read_table(f"{src}/{t}.parquet")
        n = tbl.num_rows
        for col, dom_table, dom_pk in remaps:
            domain = con.execute(
                f"SELECT max({dom_pk}) + 1 FROM "
                f"read_parquet('{src}/{dom_table}.parquet')"
            ).fetchone()[0]
            keys = _zipf_keys(rng, n, int(domain))
            tbl = _set(tbl, col, keys)
            top = np.bincount(keys, minlength=1)[:1][0] if len(keys) else 0
            stats[f"{t}.{col}"] = {
                "rows": n,
                "domain": int(domain),
                "hottest_key_rows": int(top),
                "hottest_share": round(float(top) / n, 4),
            }
        out[t] = tbl
    return out, {"seed": SKEW_SEED, "zipf_a": ZIPF_A, "skew": stats}


# --- nulls ----------------------------------------------------------------

NULLS_SEED = 20260815
# ~3% of values per injected column; NULL_RATE env overrides (the 30%
# stress twin drives whole groups/frames to all-NULL, which the 3%
# rate only grazes)
NULL_RATE = float(os.environ.get("NULL_RATE", "0.03"))

# table -> (pk column used to derive the mask, [columns to inject])
INJECT_NULLS = {
    "lineitem": (
        "l_orderkey",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"],
    ),
    "orders": (
        "o_orderkey",
        ["o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority"],
    ),
    "events": ("event_id", ["event_type", "value", "props"]),
    "documents": ("doc_id", ["text", "lang", "source", "n_chars"]),
}


def _null_mask(pk: np.ndarray, col: str) -> np.ndarray:
    """Deterministic per-(pk, column) mask: splitmix-style hash of the
    key mixed with the column name — row-order independent, identical
    in any engine that re-derives it (none needs to: the parquet IS
    the shared ground truth)."""
    h = pk.astype(np.uint64)
    salt = np.uint64(_md5(NULLS_SEED, col, digits=8))
    h = (h + salt) * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(31)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    return (h % np.uint64(10_000)) < np.uint64(int(NULL_RATE * 10_000))


def nulls(src: str):
    """NULL-injected twin (the skew-axis playbook applied to NULL
    semantics).

    The TPC-H-ish generators emit **zero NULLs**, so every sweep ever
    run has been blind to the places Spark and DuckDB disagree about
    NULL — default null ORDERING (Spark ASC = NULLS FIRST, DuckDB
    defaults to NULLS LAST, so any ordered-prefix row SET can diverge),
    NULL grouping keys, NULL propagation through windows / ranges /
    arithmetic, aggregate skipping (COUNT(col) vs COUNT(*), SUM over
    all-NULL), join keys that never match, and filter predicates where
    NULL is neither true nor false.

    The injection is seeded and row-deterministic (a pure function of
    the row's primary key, NOT of row order), so both engines see the
    exact same NULL pattern and every oracle remains a valid twin.
    Primary keys, foreign keys, event timestamps (streaming watermarks
    need real event time) and embedding vectors stay NOT NULL;
    everything else nullable a real warehouse would allow gets
    ~NULL_RATE of its values dropped.
    """
    out, stats = {}, {}
    for t, (pk_col, cols) in INJECT_NULLS.items():
        tbl = pq.read_table(f"{src}/{t}.parquet")
        pk = tbl.column(pk_col).to_numpy()
        for col in cols:
            mask = _null_mask(pk, col)
            # combine_chunks -> single array; rebuild with the mask as
            # the validity bitmap (keep original values where valid)
            flat = tbl.column(col).combine_chunks()
            tbl = _set(tbl, col, flat.to_pandas().where(~mask, other=None))
            stats[f"{t}.{col}"] = {
                "rows": len(mask),
                "nulls": int(mask.sum()),
            }
        out[t] = tbl
    return out, {"seed": NULLS_SEED, "null_rate": NULL_RATE, "nulls": stats}


# --- empty ----------------------------------------------------------------

def empty(src: str):
    """ZERO-ROW twin: every table keeps its exact parquet schema but
    carries zero rows.

    At 100 TB the realistic production shape this models is the EMPTY
    SLICE — a partition-pruned scan that matches nothing, a tenant with
    no data yet, a date hole, a filter that eliminates everything — and
    operators meet it constantly. Classic failure modes this twin exists
    to catch:

    * ``.first()`` / ``head()`` on an empty stat frame → None deref;
    * global aggregates: engines must agree that no-groupBy agg yields
      ONE row of NULLs/0 while grouped agg yields ZERO rows;
    * division by a zero count / ln(0) in fixed-order float chains;
    * iterative kernels (pagerank, BPE rounds, pointer doubling) whose
      fixpoint loop assumes a non-empty frontier;
    * streaming drains whose foreachBatch sink table is never created
      because no batch ever fires, then the post-drain read fails;
    * broadcast builds of "tiny" stat tables that are now 0-row.
    """
    return {
        t: pq.read_schema(f"{src}/{t}.parquet").empty_table() for t in TABLES
    }, {"rows": 0}


# --- unicode / fatdocs: documents.text rewrites ---------------------------

def _rewrite_documents(src: str, fn):
    """documents with ``text`` mapped through ``fn(doc_id, text)`` and
    ``n_chars`` recomputed as the code-point count of the new text."""
    tbl = pq.read_table(f"{src}/documents.parquet")
    doc_ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    new_texts = [fn(d, s) for d, s in zip(doc_ids, texts)]
    tbl = _set(tbl, "text", new_texts)
    tbl = _set(tbl, "n_chars", [len(s) if s is not None else None
                                for s in new_texts])
    touched = sum(1 for a, b in zip(texts, new_texts) if a != b)
    return tbl, new_texts, touched


UNICODE_SEED = 20260815

# Decoration pools. Every code point verified cross-engine-safe for the
# operations the registry applies to document text (see `unicode`).
POOLS = [
    # CJK
    ["你好世界", "数据处理", "東京都", "机器学习", "画像認識"],
    # emoji incl. ZWJ sequences and skin-tone modifiers
    ["👍🔥", "👩‍👩‍👧", "🚀✨", "🧑🏽‍💻", "🎉"],
    # precomposed accents
    ["café", "naïve", "Zürich", "résumé", "piñata"],
    # combining marks (NFC-normalizable to the precomposed forms)
    ["cafe\u0301", "u\u0308ber", "n\u0303and\u0301u", "e\u0301tude"],
    # RTL Arabic + Hebrew
    ["مرحبا", "שלום", "بيانات", "עולם"],
    # full-width forms
    ["ＡＢＣ１２３", "ｄａｔａ", "５６７"],
    # Cyrillic
    ["привет", "данные", "мир"],
    # lowercase Greek (caps excluded: Σ is lower()-divergent)
    ["αλφα", "βητα", "λογος", "σίσυφος"],
    # astral-plane mathematical alphanumerics
    ["𝕊𝕡𝕒𝕣𝕜", "𝒜ℬ𝒞", "𝔻𝔼"],
    # exotic whitespace-adjacent (NBSP, ideographic space — neither is
    # ASCII \s, so tokens() keeps them inside one token in BOTH engines)
    ["a\u00a0b", "c\u3000d"],
]


def decorate(doc_id: int, text: str | None) -> str | None:
    """Deterministically weave unicode snippets into one document."""
    if text is None:
        return None

    def h(tag: str) -> int:
        return _md5(UNICODE_SEED, doc_id, tag)

    if h("keep") % 5 == 0:  # ~20% ASCII control group
        return text
    n_dec = 1 + h("n") % 3
    parts = text.split(" ")
    for i in range(n_dec):
        pool = POOLS[h(f"pool{i}") % len(POOLS)]
        snip = pool[h(f"snip{i}") % len(pool)]
        mode = h(f"mode{i}") % 4
        if mode == 0:  # append
            parts.append(snip)
        elif mode == 1:  # prepend
            parts.insert(0, snip)
        elif mode == 2 and len(parts) > 1:  # inject mid-text
            parts.insert(1 + h(f"pos{i}") % (len(parts) - 1), snip)
        else:  # glue onto an existing word (mixed-script token)
            j = h(f"pos{i}") % len(parts)
            parts[j] = parts[j] + snip
    return " ".join(parts)


def unicode(src: str):
    """Unicode-stressed twin: documents.text decorated with multibyte
    text.

    The base generator emits pure-ASCII text, so every sweep has been
    blind to the places multibyte text can split Spark (JVM UTF-16
    semantics) from DuckDB (UTF-8 / utf8proc): code-point vs byte vs
    grapheme LENGTH, regex character classes, case mapping,
    normalization, substring indexing, and binary sort order of
    multibyte strings.

    What goes in (per-doc deterministic, seeded by doc_id): CJK runs,
    emoji incl. ZWJ family sequences, precomposed AND combining-mark
    accents (exercises the NFC key both ways), RTL Arabic/Hebrew,
    full-width forms, Cyrillic, lowercase Greek, astral-plane
    mathematical letters, NBSP / ideographic space (NOT ASCII \\s — both
    engines' \\s is ASCII-only, measured). ~20% of docs stay untouched
    as an ASCII control group.

    What stays out — measured per-code-point with both engines (sweep
    of U+0080..U+2FFF + fullwidth + two astral blocks, each char probed
    in initial/medial/final/isolated position):

    * the 4 lower()-divergent code points U+0130 İ (Java emits i +
      combining dot, DuckDB plain i), U+03A3 Σ (Java applies the
      context-sensitive final-sigma rule, DuckDB maps blindly to σ),
      U+1C89 and U+2C2F — `text_normalize` lower()s document text, so
      these would diverge BY ENGINE DESIGN, not by our bug;
    * the 94 upper()-divergent code points (ß-class expansions) for
      future-proofing — nothing upper()s document text today;
    * everything else agreed: length (0 divergences), \\s+ splitting,
      [a-zA-Z0-9]-class regexes, substring, binary ordering.

    n_chars is recomputed as the code-point count of the new text (both
    engines' length() semantics, measured identical).
    """
    tbl, new_texts, touched = _rewrite_documents(src, decorate)
    return {"documents": tbl}, {
        "seed": UNICODE_SEED, "docs": len(new_texts), "decorated": touched,
    }


FATDOCS_SEED = 20260816

VOCAB = (
    "data spark shuffle parquet column filter join window stream batch "
    "model token corpus sample weight vector index bucket merge sort "
    "cache scan stage task executor driver plan query table schema row "
    "group count value score rank label train test split node edge graph "
    "hash band prefix slice block chunk span gram digit lag pair cell "
    "drift trend level shift gap tail state store probe"
).split()
assert len(VOCAB) == 64

WORDS_EXTREME = 60_000
WORDS_GIANT = 8_000
WORDS_MEDIUM = 1_000


def fatten(doc_id: int, text: str | None) -> str | None:
    """Deterministically expand one document to its class's word target."""
    if text is None:
        return None

    def h(tag: str) -> int:
        return _md5(FATDOCS_SEED, doc_id, tag)

    r = h("class") % 100
    if r < 1:
        target = WORDS_EXTREME
    elif r < 11:
        target = WORDS_GIANT
    elif r < 41:
        target = WORDS_MEDIUM
    else:
        return text
    parts = [text]
    words = len(text.split())
    k = 0
    while words < target:
        if h(f"mode{k}") % 2 == 0:
            # self-repeat with a marker word so the expansion is a
            # duplicated long span, not a period-1 degenerate string
            marker = VOCAB[h(f"mk{k}") % len(VOCAB)]
            block = f"{marker}{k} {text}"
        else:
            # four seeded filler sentences of 8-15 vocabulary words
            block = " ".join(
                " ".join(
                    VOCAB[h(f"fw{s}.{j}") % len(VOCAB)]
                    for j in range(8 + h(f"fl{s}") % 8)
                )
                for s in range(k * 31, k * 31 + 4)
            )
        parts.append(block)
        words += len(block.split())
        k += 1
    return " ".join(parts)


def fatdocs(src: str):
    """Fat-document twin: documents.text expanded to a heavy-tailed
    length mix.

    Every sweep before this axis ran on ~50-word documents, so the
    per-ROW payload dimension had never been exercised — an operator
    can be linear in row count yet quadratic (or memory-unbounded) in
    document LENGTH and all row-count axes stay green. Real pretraining
    corpora are exactly this shape: most docs small, a heavy tail of
    100×–1000× giants.

    What goes in (per-doc deterministic, seeded by doc_id):

    * ~1% "extreme" docs (~60k words): near the winnow_fingerprint 2^20
      position-packing bound's order of magnitude, big enough that any
      O(len²) per-doc step is seconds-visible;
    * ~10% "giant" docs (~8k words);
    * ~30% "medium" docs (~1k words);
    * the rest untouched as a control group.

    Expansion blocks alternate (a) SELF-REPEATS of the doc's own text
    with a per-repeat marker word (duplicated long spans — the
    substring_dedup / repetition_metrics / containment shape, while the
    marker keeps it from degenerating into a period-1 string) and (b)
    seeded FILLER sentences from a closed 64-word vocabulary (shifts the
    unigram/bigram mass the LM-scoring keys fold over). Pure ASCII — the
    unicode axis is separate; NULL text stays NULL. n_chars is
    recomputed.
    """
    tbl, new_texts, touched = _rewrite_documents(src, fatten)
    return {"documents": tbl}, {
        "seed": FATDOCS_SEED,
        "docs": len(new_texts),
        "fattened": touched,
        "total_words": sum(len(s.split()) for s in new_texts if s),
        "max_doc_words": max(len(s.split()) for s in new_texts if s),
    }


# --- timewarp -------------------------------------------------------------

TIMEWARP_SEED = 20260816
WARP_RATE = 10  # 1-in-N values per temporal column

_F = "%Y-%m-%d %H:%M:%S.%f"

# The pathology pool. Every instant is a plain (naive/UTC) timestamp —
# the DST entries are the UTC instants of the 2024 US/EU transitions,
# inert under correct UTC handling and loud under any accidental
# local-zone application.
POOL_FULL = [
    "0001-01-03 00:00:00.000000",  # proleptic deep past
    "1400-06-07 12:34:56.789012",  # pre-Gregorian-reform, odd micros
    "1582-10-04 23:59:59.999999",  # last Julian day (reform straddle)
    "1582-10-15 00:00:00.000000",  # first Gregorian day
    "1899-12-31 23:59:59.500000",  # century boundary, .5s rounding bait
    "1969-12-31 23:59:59.999999",  # epoch minus 1 microsecond
    "1970-01-01 00:00:00.000000",  # the epoch
    "1970-01-01 00:00:00.000001",  # epoch plus 1 microsecond
    "2000-02-29 12:00:00.000000",  # leap-century day (divisible by 400)
    "2023-12-31 23:59:59.999999",  # year boundary, final microsecond
    "2024-01-01 00:00:00.000000",  # year boundary
    "2024-02-29 23:59:59.999999",  # leap day, final microsecond
    "2024-03-10 06:59:59.999999",  # US spring-forward instant (UTC)
    "2024-03-10 07:00:00.000000",
    "2024-03-31 01:30:00.000000",  # EU spring-forward gap hour (UTC)
    "2024-10-27 00:59:59.999999",  # EU fall-back ambiguous hour (UTC)
    "2024-11-03 05:30:00.000000",  # US fall-back repeated hour (UTC)
    "2100-02-28 23:59:59.000000",  # non-leap century (div 100, not 400)
    "2199-12-31 23:59:59.999999",  # far future, inside pandas-ns range
]
# strictly AFTER the epoch (watermark floor) and within pandas-ns range
_STREAM_SAFE_FLOOR = "1970-01-01 00:00:00.000001"
POOL_EVENTS = [s for s in POOL_FULL if s >= _STREAM_SAFE_FLOOR]

# table -> (pk column used to derive the mask, {ts column: pool})
INJECT_WARPS = {
    "orders": ("o_orderkey", {"o_orderdate": POOL_FULL}),
    "lineitem": ("l_orderkey", {"l_shipdate": POOL_FULL}),
    "events": ("event_id", {"ts": POOL_EVENTS}),
}


def warp_column(pks: list, vals: list, col: str, pool: list[str]):
    out = []
    n_warped = 0
    parsed = [datetime.strptime(s, _F) for s in pool]
    for pk, v in zip(pks, vals):
        if v is not None and _md5(TIMEWARP_SEED, pk, col, "warp") % WARP_RATE == 0:
            out.append(parsed[_md5(TIMEWARP_SEED, pk, col, "pick") % len(parsed)])
            n_warped += 1
        else:
            out.append(v)
    return out, n_warped


def timewarp(src: str):
    """Time-pathology twin.

    The base generators emit well-behaved 2024-ish UTC timestamps, so
    every sweep has been blind to the temporal places engines can
    diverge — year/century boundaries, leap days (including the 2000
    leap-century and 2100 non-leap-century), the 1582 Gregorian reform
    straddle under proleptic-Gregorian arithmetic, pre-epoch
    (negative-epoch-day) instants, microsecond-precision extremes
    (``...999999``), sub-second rounding in formatting, and the DST
    transition instants where any accidental non-UTC session-timezone
    application (Spark ``spark.sql.session.timeZone`` vs DuckDB
    ``TimeZone``) would first show.

    The warp is seeded and row-deterministic (a pure function of the
    row's primary key and column name, NOT of row order), so both
    engines see the exact same timestamps and every oracle remains a
    valid twin. ~10% of values per temporal column are remapped onto a
    pathology pool; the rest stay verbatim as a control group.

    Range policy (measured constraints, not taste):

    * ``orders.o_orderdate`` / ``lineitem.l_shipdate`` get the FULL pool
      (year 0001..2199) — no batch operator routes these through pandas,
      and both engines use proleptic-Gregorian ``timestamp[us]``.
    * ``events.ts`` is clamped to (epoch, 2199]: two measured engine
      boundaries. Ceiling — the streaming sessionizer
      (``applyInPandasWithState``) moves event times through pandas,
      whose ``datetime64[ns]`` only spans 1677-09-21..2262-04-11, and
      the sentinel-flush sources add up to 14 days to ``max(ts)``; 2199
      keeps a >60-year margin. Floor — Spark Structured Streaming
      initializes the watermark to epoch-0 ms, and every watermarked
      stateful operator drops rows whose event time is ≤ the current
      watermark, so events at or before 1970-01-01T00:00:00Z are
      silently discarded in the very first micro-batch (measured: a
      4-row dedup drain kept only the post-epoch row; pinned in
      tests/test_streaming.py). Batch operators handle pre-epoch
      timestamps fine — orders/lineitem keep them.
    """
    out, counts = {}, {}
    for t, (pk_col, cols) in INJECT_WARPS.items():
        tbl = pq.read_table(f"{src}/{t}.parquet")
        pks = tbl.column(pk_col).to_pylist()
        for col, pool in cols.items():
            vals = tbl.column(col).to_pylist()
            new_vals, n = warp_column(pks, vals, col, pool)
            tbl = _set(tbl, col, new_vals)
            counts[f"{t}.{col}"] = {"rows": len(vals), "warped": n}
        out[t] = tbl
    return out, {
        "seed": TIMEWARP_SEED,
        "warp_rate": f"1/{WARP_RATE}",
        "pool_full": POOL_FULL,
        "pool_events": POOL_EVENTS,
        "columns": counts,
    }


# --- command line ---------------------------------------------------------

SF001 = os.path.join(TESTDATA, "sf0.01")

# axis -> (builder, default out_dir, default src_dir)
AXES = {
    "sf1": (sf1, os.path.join(REPO, ".sf1data"), os.path.join(TESTDATA, "sf0.1")),
    "skew": (skew, os.path.join(REPO, ".skewdata"), os.path.join(REPO, ".sf1data")),
    "nulls": (nulls, os.path.join(REPO, ".nulldata"), SF001),
    "empty": (empty, os.path.join(REPO, ".emptydata"), SF001),
    "unicode": (unicode, os.path.join(REPO, ".unicodedata"), SF001),
    "fatdocs": (fatdocs, os.path.join(REPO, ".fatdata"), SF001),
    "timewarp": (timewarp, os.path.join(REPO, ".timewarpdata"), SF001),
}


def write_twin(axis: str, src: str, out: str) -> None:
    """Build the ``axis`` twin of ``src`` into ``out``: rewritten tables
    are written, every other table is copied verbatim, and
    MANIFEST.json records the source, the axis fields and the time."""
    t0 = time.time()
    os.makedirs(out, exist_ok=True)
    tables, meta = AXES[axis][0](src)
    con = duckdb.connect()
    for t in TABLES:
        path = f"{out}/{t}.parquet"
        new = tables.get(t)
        if new is None:
            shutil.copyfile(f"{src}/{t}.parquet", path)
        elif isinstance(new, str):
            con.execute(f"COPY ({new}) TO '{path}'")
        else:
            pq.write_table(new, path)
    manifest = {"src": src, **meta, "generated_unix": int(time.time())}
    with open(f"{out}/MANIFEST.json", "w") as fh:
        json.dump(manifest, fh, indent=1)
    print(f"[gen_twin] {axis}: rewrote {sorted(tables)} "
          f"in {time.time() - t0:.1f}s -> {out}", flush=True)


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in AXES:
        sys.exit(f"usage: gen_twin.py {{{','.join(AXES)}}} [out_dir] [src_dir]")
    axis = sys.argv[1]
    _, out, src = AXES[axis]
    out = sys.argv[2] if len(sys.argv) > 2 else out
    src = sys.argv[3] if len(sys.argv) > 3 else src
    write_twin(axis, src, out)


if __name__ == "__main__":
    main()
