"""Hash column expressions: the content-hash core, MinHash signatures,
LSH band keys, SimHash fingerprints.

Two hashes, both JVM-side deterministic functions of the input — no
Python, no RNG state, reproducible across runs and cluster layouts:

* :func:`md5_int`, the content-hash core: every choice an oracle must
  regenerate (generated rows, splits, samples, buckets, fingerprints,
  CDC/IVM ops, PSI halves) reads the first ``n`` md5 hex digits as an
  integer, mirrored by ``registry._duck_md5_int``;
* ``xxhash64`` with integer salts, for sketches no oracle rebuilds
  (MinHash, LSH band keys, the default SimHash base hash).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``value`` once, reference it many times.

    Emulates a let-binding with ``transform`` over a single-element
    array: the element is evaluated once per row and bound to the lambda
    variable, so every reference inside ``body`` reads the bound value.
    Without this, Catalyst's projection collapse inlines a sub-expression
    into each of its N references and re-evaluates it N times (lambda
    expressions sit outside codegen's common-subexpression elimination)
    — measured 22× slowdown on the MinHash band-key projection.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


MINHASH_K = 32  # min-hashes per signature


def minhash_from_hashes(hs: Column) -> Column:
    """ARRAY<BIGINT> of ``MINHASH_K`` min-hashes over pre-hashed shingle
    values (hash each shingle string once, e.g. with ``xxhash64``).

    The hash families re-hash the 8-byte base value with the family
    index; signature[i] = min over the set. Standard MinHash estimator:
    P[sig_a[i] == sig_b[i]] = J(a, b).
    """
    return let(
        hs,
        lambda h: F.array(
            *[
                F.array_min(
                    F.transform(
                        h, lambda x: F.xxhash64(x, F.lit(0), F.lit(i))
                    )
                )
                for i in range(MINHASH_K)
            ]
        ),
    )


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """ARRAY<BIGINT> of per-band bucket keys (banding for LSH).

    Band b's key hashes rows [b*rows, (b+1)*rows) of the signature
    together with the band index, so buckets never collide across bands.
    Docs sharing ≥1 band key are candidate pairs; with k=bands*rows the
    candidate probability is 1-(1-J^rows)^bands (S-curve around the
    similarity threshold).
    """
    return let(
        sig,
        lambda s: F.array(
            *[
                F.xxhash64(
                    F.lit(b),
                    *[F.element_at(s, b * rows + r + 1) for r in range(rows)],
                )
                for b in range(bands)
            ]
        ),
    )


SIMHASH_MAX_SHINGLES = 255  # 8-bit lane capacity — see simhash64


def md5_int(s: Column | str, n: int) -> Column:
    """First ``n`` (1–15) md5 hex digits of string ``s`` as a BIGINT —
    the content-hash core (DuckDB mirror: ``registry._duck_md5_int``).

    md5 over the same UTF-8 bytes is identical everywhere, so a value
    built on it is regenerated exactly by a SQL oracle. At most 15
    digits keeps the value under 2^60 — always positive, so signed and
    unsigned orderings agree across engines and no BIGINT overflow
    check can fire on either side. NULL in, NULL out.
    """
    return F.conv(F.substring(F.md5(s), 1, n), 16, 10).cast("long")


def simhash64(shingles: Column, base_hash=None) -> Column:
    """64-bit SimHash of a shingle set as BIGINT.

    bit b of the fingerprint = majority vote of bit b across
    hashed shingle values (``base_hash`` per shingle — default
    ``xxhash64``; pass ``md5_int`` at n = 15 for an oracle-reproducible
    60-bit variant whose fingerprint stays positive with bits 60-63
    zero). Near-identical documents differ in few bits (small Hamming
    distance).

    Documents with more than ``SIMHASH_MAX_SHINGLES`` distinct shingles
    are folded over their bottom-255 hash values (the 255 smallest
    xxhash64 outputs — a deterministic bottom-k sketch of the set, the
    same subset MinHash-style sketches retain). This keeps every per-bit
    count within its 8-bit lane; without the cap a >255-shingle doc
    would carry into the adjacent bit position's count and silently
    corrupt the fingerprint. Bottom-k is stable under duplication and
    ordering, so two near-identical long docs truncate to near-identical
    sketches and their Hamming distance is preserved in expectation.
    """
    # Bit-count packing: one fold per GROUP of 8 bits, accumulating the
    # 8 per-bit counts in 8-bit lanes of a single long. 8 folds instead
    # of 64 — lambda folds are interpreted, so fold count is the cost
    # driver. The accumulator starts at Long.MIN_VALUE: the fold then
    # climbs monotonically from MIN to at most MAX (255 adds of at most
    # LANE_MASK each sum to 2^64-1), so no intermediate add crosses the
    # signed-long boundary — without the bias, a top-lane (bits 56-63)
    # count reaching 128 sets bit 63 mid-fold, which ANSI mode rejects
    # as long overflow. Debias by flipping bit 63 (XOR, not subtraction,
    # which would itself overflow).
    LANE_MASK = 0x0101010101010101  # bit0 of each of the 8 lanes
    BIAS = -0x8000000000000000  # Long.MIN_VALUE

    def body(hashes: Column) -> Column:
        n = F.size(hashes)

        def lane_counts(group: int) -> Column:
            # spread bits (group, group+8, ..., group+56) of h into the
            # low bit of each 8-bit lane, then add lane-wise (bounded by
            # the bottom-k cap, so lanes cannot overflow)
            return F.aggregate(
                hashes,
                F.lit(BIAS).cast("long"),
                lambda acc, h: acc
                + F.shiftright(h, group).bitwiseAND(F.lit(LANE_MASK)),
            )

        def group_bits(g: int) -> Column:
            # let-bind the fold result: each group's counts feed 8 lane
            # extractions, which must not re-run the fold
            def unpack(counts_biased: Column) -> Column:
                counts = counts_biased.bitwiseXOR(F.lit(BIAS).cast("long"))
                contrib = F.lit(0).cast("long")
                for lane in range(8):
                    ones = (
                        F.shiftright(counts, lane * 8).bitwiseAND(F.lit(0xFF))
                    )
                    # majority (ties → 1) of bit position g + 8*lane
                    bit = F.when(
                        ones * 2 >= n, F.lit(1).cast("long")
                    ).otherwise(F.lit(0).cast("long"))
                    contrib = contrib + F.shiftleft(bit, g + 8 * lane)
                return contrib

            return let(lane_counts(g), unpack)

        fp = F.lit(0).cast("long")
        for g in range(8):
            fp = fp + group_bits(g)
        return fp

    # let-bind the per-shingle hashes: referenced by all 8 lane folds
    # (and F.size), which would otherwise each re-hash every shingle
    # string after projection collapse. The inner let binds the capped
    # (bottom-k) array so the when/sort/slice also runs once.
    if base_hash is None:
        base_hash = F.xxhash64
    return let(
        F.transform(shingles, lambda s: base_hash(s)),
        lambda hs: let(
            F.when(
                F.size(hs) > SIMHASH_MAX_SHINGLES,
                F.slice(F.array_sort(hs), 1, SIMHASH_MAX_SHINGLES),
            ).otherwise(hs),
            body,
        ),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


SIMHASH_BLOCKS = 4


def simhash_block_keys(fp: Column) -> Column:
    """Split a 64-bit fingerprint into ``SIMHASH_BLOCKS`` equal bit-blocks
    and key each (block_idx, block_value). Two fingerprints within
    Hamming distance < ``SIMHASH_BLOCKS`` share at least one identical
    block (pigeonhole) — the classic Charikar/Manku near-dup blocking
    scheme."""
    width = 64 // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    return F.array(
        *[
            F.xxhash64(
                F.lit(i),
                F.shiftright(fp, i * width).bitwiseAND(F.lit(mask)),
            )
            for i in range(SIMHASH_BLOCKS)
        ]
    )
