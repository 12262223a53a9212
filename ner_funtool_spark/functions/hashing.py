"""Cross-engine deterministic hashing.

Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` are different
algorithms, so every operator whose oracle is DuckDB SQL hashes through
md5 instead: ``H(s) = int(md5(s)[:8], 16)`` — identical in

* Spark SQL:  ``conv(substring(md5(s), 1, 8), 16, 10)``  (bigint)
* DuckDB SQL: ``('0x' || substr(md5(s), 1, 8))::BIGINT``
* numpy/pandas: :func:`md5_int` below.

The reference keys all of its dictionary lookups on raw strings
(data_preprocess.py:157-159, bert/tokenization.py:136-141); a stable
integer hash is our scale-path equivalent for minhash / LSH / salting.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1  # modulus for minhash permutations


def md5_int(s: str) -> int:
    """First 32 bits of md5(s) as int — matches the SQL forms above."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def md5_int_col(c: Column) -> Column:
    """Spark column: same 32-bit md5 prefix hash."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_int2(s: str) -> int:
    """Second 32 bits of md5(s) (hex chars 9-16) — an independent
    cross-engine hash stream; together with :func:`md5_int` it yields 64
    deterministic bits per string (simhash fingerprints)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[8:16], 16)


def md5_int2_col(c: Column) -> Column:
    """Spark column form of :func:`md5_int2`."""
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")


def minhash_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """k universal-hash permutations (a*x+b) mod p, deterministic in seed."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_P, size=k).astype(np.int64)
    b = rng.randint(0, MERSENNE_P, size=k).astype(np.int64)
    return a, b
