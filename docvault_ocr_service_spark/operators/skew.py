"""Explicit skew handling for heavy-tailed page payloads (north rule).

Blob sizes on a web corpus are log-normal with multi-MB giants
(reference admission cap: 50 MB, ``app/validators.py:9``; the skew bomb is
a 500-page PDF in one row, SURVEY §4 item 1).  Hash-partitioning by url
balances *row counts* but not *bytes*, so a naive repartition leaves
straggler partitions holding the giants.

Policy, for ``n`` target partitions:

- normal rows (``length(html) <= size_threshold``): a salted spread on
  ``xxhash64(url, 1337)`` over ``[0, n)`` — uniform row counts, and the
  salt decorrelates the layout from any upstream bucketing of the same
  key.
- oversized rows: spread on ``xxhash64(url, 7331)`` over partitions of
  their own, ``g = max(n // 4, 1)`` of them — the unit of stragglerhood
  becomes one giant, not one giant plus a thousand normal rows stuck
  behind it in the same task.

Both kinds of row are placed by ONE exchange (``route_once``), which
gives every row an explicit partition id —
``pmod(xxhash64(url, 1337), n)`` for a normal row,
``n + pmod(xxhash64(url, 7331), g)`` for an oversized one — and
``repartitionById(n + g, id)`` moves each row straight to it.  One
downstream map stage covers both kinds, and the exchange is a
``REPARTITION_BY_NUM`` one, which AQE does not coalesce, so giants keep
their own partitions.  A row with a null url or payload still gets an
id (the salt alone is hashed; a null size is not oversized), so no row
is dropped.

The extraction job and its media branch route with ``route_once``.
``route_by_size`` keeps the two-DataFrame form (``normal``, ``giants``)
for the benchmark scans and tests that take the halves apart; it uses
the same size test and salts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SIZE_THRESHOLD = 256 * 1024  # bytes of html payload
NORMAL_SALT = 1337
GIANT_SALT = 7331


def is_oversized(payload_col: str, size_threshold: int) -> Column:
    """Payload larger than ``size_threshold`` bytes; false for null."""
    size = F.octet_length(F.col(payload_col))
    return F.coalesce(size > F.lit(size_threshold), F.lit(False))


def giant_partitions(n_partitions: int) -> int:
    """Partitions the oversized rows spread over.  The giant count is
    tiny relative to the corpus, so a quarter of the width is plenty."""
    return max(n_partitions // 4, 1)


def _spread(salt: int, n: int) -> Column:
    return F.pmod(F.xxhash64(F.col("url"), F.lit(salt)), F.lit(n))


def route_once(df: DataFrame, n_partitions: int,
               size_threshold: int = DEFAULT_SIZE_THRESHOLD) -> DataFrame:
    """One exchange that places normal rows in ``[0, n)`` and oversized
    ones in ``[n, n + giant_partitions(n))``."""
    g = giant_partitions(n_partitions)
    pid = (F.when(is_oversized("html", size_threshold),
                  F.lit(n_partitions) + _spread(GIANT_SALT, g))
           .otherwise(_spread(NORMAL_SALT, n_partitions)))
    return df.repartitionById(n_partitions + g, pid.cast("int"))


def salted_repartition(df: DataFrame, n_partitions: int,
                       key: str = "url", salt: int = NORMAL_SALT) -> DataFrame:
    """Repartition by xxhash64(key, salt) — deterministic, uniform."""
    return df.repartition(
        n_partitions, F.xxhash64(F.col(key), F.lit(salt))
    )


def route_by_size(df: DataFrame, n_partitions: int,
                  size_threshold: int = DEFAULT_SIZE_THRESHOLD,
                  payload_col: str = "html") -> tuple[DataFrame, DataFrame]:
    """Split into (normal, oversized) with partitioning applied to each."""
    oversized = is_oversized(payload_col, size_threshold)
    normal = salted_repartition(df.where(~oversized), n_partitions)
    # Spread giants thin: one (or few) per partition.
    giants = salted_repartition(df.where(oversized),
                                giant_partitions(n_partitions),
                                salt=GIANT_SALT)
    return normal, giants
