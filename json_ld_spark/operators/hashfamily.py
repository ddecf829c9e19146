"""The md5 hash family: every hash decision that the near-dup and
sampling operators share with their DuckDB oracles, in one place.

The base hash is the first 15 hex digits (60 bits) of md5. Any SQL
engine with md5 reproduces it, so minhash signatures, band buckets,
simhash signatures, the band-bucket cap and sampling buckets are all
recomputed bit-for-bit by the oracle SQL in ``__spark_entry__.py``.
Each Spark expression below sits next to the SQL text or constant the
oracle reads.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# DuckDB twin of md5_hash60; ``{x}`` is the SQL string expression
MD5_HASH60_SQL = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"

# simhash: a 60-bit signature banded into 4 blocks of 15 bits
SIMHASH_BITS = 60
SIMHASH_BLOCK_BITS = 15

MINHASH_PRIME = 2147483647  # 2^31 - 1: (a*h + b) % P stays in 62 bits

# rows kept per (band, bucket) before a banded self-join: the smallest
# ids, by row_number — the skew guard of canonicalize.capped_band_pairs
BAND_BUCKET_CAP = 64

# sampling buckets: thresholds are fractions at 1e-6 grain
SAMPLE_BUCKETS = 1_000_000


def md5_hash60(col):
    """Non-negative 60-bit hash from the md5 hex prefix (see
    MD5_HASH60_SQL for the DuckDB form)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_affine(num_hashes: int = 32):
    """(A, B, P) coefficients for the affine universal-hash family
    h_i(x) = (a_i * x + b_i) mod P over the md5_hash60 shingle
    hashes. Seeded-deterministic, so the oracle SQL embeds the same
    constants."""
    import random

    rnd = random.Random(12345)
    A = [rnd.randrange(1, MINHASH_PRIME) for _ in range(num_hashes)]
    B = [rnd.randrange(0, MINHASH_PRIME) for _ in range(num_hashes)]
    return A, B, MINHASH_PRIME


def minhash_band_buckets(sig_col: str, num_hashes: int, bands: int):
    """One bucket column per band: md5 of "band-v1-v2-..." over the
    band's signature values. The band index is part of the hashed
    string, so buckets of different bands never collide."""
    rows = num_hashes // bands
    return [
        F.md5(F.concat_ws(
            "-",
            F.lit(str(i)),
            *[F.element_at(sig_col, i * rows + j + 1).cast("string")
              for j in range(rows)],
        ))
        for i in range(bands)
    ]


def minhash_band_bucket_sql(band: str, sig: str, num_hashes: int,
                            bands: int) -> str:
    """DuckDB twin of minhash_band_buckets for the band index
    expression ``band`` over the 1-based signature list ``sig``."""
    rows = num_hashes // bands
    vals = ", ".join(
        f"CAST({sig}[{band} * {rows} + {j + 1}] AS VARCHAR)"
        for j in range(rows)
    )
    return f"md5(concat_ws('-', CAST({band} AS VARCHAR), {vals}))"


def sample_bucket(key_col: str, salt: str):
    """Sampling bucket in [0, SAMPLE_BUCKETS): md5_hash60 of the key
    as a string with ``salt`` appended. A row's bucket depends only
    on its key, so samples are partition-independent and stable
    under appends."""
    return F.pmod(
        md5_hash60(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        F.lit(SAMPLE_BUCKETS),
    )
