"""Shared md5-derived integer hashing idiom.

Every deterministic sampler, sketch, bucketer and permutation in this
repo derives its integers the same way: a hex prefix of ``md5`` parsed
as a BIGINT. md5 (not ``xxhash64``) because the DuckDB oracles rebuild
the identical value with ``('0x' || substr(md5(x), s, n))::BIGINT`` —
the cross-engine-proven idiom (SURVEY §7). Prefix lengths in use:

- 15 hex digits (60 bits): sampling priorities, MinHash lanes,
  fingerprints — fits a BIGINT with headroom for mod/products;
- 8 hex digits (32 bits): hashing-trick buckets, CMS cells, bootstrap
  draws — cheap and collision-tolerant by design.

Extracted per the round-11 review so the idiom (and its one subtle
contract: ``F.conv`` yields a NON-NEGATIVE value for ≤15 hex digits,
so ``%`` is a true uniform bucket, never negative) lives in one place.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex_bigint(col: Column, length: int = 15, start: int = 1) -> Column:
    """``length`` hex digits of ``md5(col)`` from ``start`` (1-based)
    as a non-negative BIGINT. ``length`` must be ≤ 15 to stay inside
    the BIGINT range."""
    if length > 15:
        raise ValueError("md5_hex_bigint: >15 hex digits overflows BIGINT")
    return hex_slice_bigint(F.md5(col), start, length)


def hex_slice_bigint(hexcol: Column, start: int, length: int) -> Column:
    """Parse a slice of an existing hex-string column as a BIGINT —
    for call sites that reuse one md5 across several lanes."""
    return F.conv(F.substring(hexcol, start, length), 16, 10).cast("bigint")
