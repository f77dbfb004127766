"""Column-level helpers (O-5/O-26/O-31) — all JVM-side builtins.

Everything here stays inside WholeStageCodegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from readembedability_spark.schemas import N_BUCKETS


def host_col() -> Column:
    """Hostname of the ``url`` column (O-5), lowercased."""
    return F.lower(F.regexp_extract("url", r"^https?://([^/:?#]+)", 1))


def epoch_us(ts: str) -> Column:
    """Microseconds from 1970-01-01 00:00:00 to the timestamp column
    ``ts``. timestampdiff accepts TIMESTAMP_NTZ, which unix_micros
    rejects."""
    return F.expr(
        f"timestampdiff(MICROSECOND, timestamp'1970-01-01 00:00:00', {ts})"
    )


def capture_digest() -> Column:
    """A capture's content identity: the first 8 hex chars of md5 over
    the raw ``html`` payload, a NULL payload hashed as empty."""
    return F.substring(F.md5(F.coalesce("html", F.lit(b""))), 1, 8)


def url_hash_col() -> Column:
    """Stable 64-bit hash of the ``url`` column (xxhash64 — JVM-side,
    seed 42)."""
    return F.xxhash64("url")


def salt_col(num_salts: int = 64) -> Column:
    """Skew salt: pmod(xxhash64(url), num_salts) (O-8, BASELINE.json:6
    'explicit salting/repartitioning by url-hash')."""
    return F.pmod(url_hash_col(), F.lit(num_salts)).cast("int")


def bucket_col() -> Column:
    """Checkpoint-resume bucket id of the ``url`` column (O-31)."""
    return F.pmod(url_hash_col(), F.lit(N_BUCKETS)).cast("int")
