"""Deterministic, engine-portable hashing.

``xxhash64``/``hash`` are Spark-private algorithms; results could never be
reproduced by another engine (or audited offline).  Everything that feeds a
*persisted* artifact — dedup signatures, fingerprints, LSH buckets — uses
md5-derived values instead: the hex digest is standard, and a 15-hex-digit
prefix fits a signed 64-bit int (60 bits) identically in any engine
(DuckDB: ``('0x' || substring(md5(x),1,15))::BIGINT``).

Spark-internal salting/shuffling still uses ``xxhash64`` (cheaper, and
nothing downstream persists it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — portable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


#: modulus for the per-k universal mixing (Mersenne prime 2^31 - 1)
MINHASH_P = 2**31 - 1


#: number of independent 30-bit md5 slices the minhash family mixes.
#: FOUR, by measurement. r7's end-of-round snapshot briefly cut this to 2
#: citing a candidate-pair-ratio "measurement" that was never recorded;
#: r8 built the planted-pair recall harness (tests/test_minhash_recall.py,
#: numbers in BENCH/BASELINE.md "MinHash slice-count recall study") and
#: S=2 LOSES true near-dup pairs on short documents: with only two slices
#: every hash k mixes the same two 30-bit values, so signatures of
#: Jaccard≈0.7 pairs agree in too few positions to band-collide (4 LSH
#: recall tests red at S=2, green at S=4).  Pair-count ratio cannot
#: distinguish "same quality" from "lost true + gained false" — do not
#: change this constant without the recall harness.
MINHASH_SLICES = 4


def md5_slices30(col: Column) -> Column:
    """Array of ``MINHASH_SLICES`` independent 30-bit bigints from ONE
    md5 digest (8 hex chars each, reduced mod 2^30).

    Basis for k portable hash functions at one digest per value:
    ``h_k = (A_k * x[k%S] + B_k * x[(k+1)%S]) % (2^31-1)`` with fixed
    multiply-add constants per k (see ``minhash_constants``) — a
    2-universal family whose mod-P wrap destroys the cross-k rank
    correlation that a plain linear combination (or Kirsch-Mitzenmacher
    ``h1 + k*h2``) keeps; measured on the documents table, plain KM
    inflated LSH candidate pairs 6.5x vs md5-per-k while this family
    matches it (BENCH/BASELINE.md optimization log; the slice COUNT is
    pinned by the planted-pair recall study — see ``MINHASH_SLICES``
    above).  Width budget: A,B < 2^31 and
    x < 2^30 keep every product under 2^61 — no int64 overflow on either
    engine, for any k.
    DuckDB twin: ``('0x'||substring(md5(x), 1+i*8, 8))::BIGINT % 1073741824``.
    """
    digest = F.md5(col)
    return F.array(
        *[
            F.conv(F.substring(digest, 1 + i * 8, 8), 16, 10).cast("bigint")
            % F.lit(2**30).cast("bigint")
            for i in range(MINHASH_SLICES)
        ]
    )


def minhash_constants(num_hashes: int) -> list:
    """Deterministic (A_k, B_k) multiply-add constants in [1, 2^31-2] —
    md5-derived, so any engine (or an offline audit) regenerates them."""
    import hashlib

    def c(tag: str, k: int) -> int:
        raw = int.from_bytes(hashlib.md5(f"{tag}#{k}".encode()).digest()[:8], "big")
        return raw % (MINHASH_P - 1) + 1

    return [(c("minhashA", k), c("minhashB", k)) for k in range(num_hashes)]
