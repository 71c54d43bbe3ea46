"""The portable hash of the functions layer, written once.

Operators that promise the same output on any engine draw their
randomness from md5, which every engine has: the first 15 hex digits of
the digest read as a base-16 number, ``conv(substring(md5(key), 1, 15),
16, 10)`` cast to long — a non-negative 60-bit value, inside long range
for ``conv``.  The form is frozen: the DuckDB oracle replays it verbatim
(as ``('0x' || substr(md5(key), 1, 15))::BIGINT``), so any change here
is a cross-engine contract break, not a refactor.

``hash_mode`` picks the id-hash behind an operator's buckets: ``"md5"``
is that portable form over ``concat_ws('-', seed, id)``, ``"xxhash64"``
the cheap JVM-only variant.  :func:`hash_bucket` is the one bucket the
ppm-rate samplers (``n = 1e6``, compared against per-million
thresholds) and the packing shards (``n = num_shards``) share:
``pmod(conv(substring(md5(concat_ws('-', seed, id)), 1, 15), 16, 10),
n)``.  It reads only (seed, id), never partition or row position, so it
is partitioning-independent by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def check_hash_mode(mode: str, param: str = "hash_mode") -> None:
    """Raise ``ValueError`` naming ``param`` unless ``mode`` is
    ``"xxhash64"`` or ``"md5"`` — called at construction, before any
    Spark job."""
    if mode not in ("xxhash64", "md5"):
        raise ValueError(f"{param} must be xxhash64|md5, got {mode!r}")


def md5_60(key: Column) -> Column:
    """The 60-bit md5-derived hash of the string ``key`` as a long."""
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def md5_uniform(key: Column) -> Column:
    """``(md5_60(key) + 1) / 2^60``: a uniform in (0, 1], never 0, so
    ``ln()`` of it is finite."""
    return (md5_60(key) + F.lit(1)).cast("double") / F.lit(float(1 << 60))


def hash_bucket(seed: int, id_col: str, n: int, hash_mode: str) -> Column:
    """``hash(seed, id) mod n`` in ``[0, n)`` under ``hash_mode``."""
    check_hash_mode(hash_mode)
    if hash_mode == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(n))
    key = F.concat_ws("-", F.lit(seed), F.col(id_col).cast("string"))
    return F.pmod(md5_60(key), F.lit(n))
