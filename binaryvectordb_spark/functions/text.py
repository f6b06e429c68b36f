"""Text primitives for the LLM-data-pipeline operators (SURVEY §2.12):
tokenization, shingling, MinHash/SimHash signatures — all as portable Spark
SQL expressions (no Python UDFs; everything whole-plan declarative).

Portability contract with the DuckDB oracles:
- the base hash is md5 (identical hex in both engines); its first 15 hex
  chars parse to a 60-bit int: Spark ``conv(h, 16, 10)``, DuckDB
  ``CAST('0x' || h AS BIGINT)`` — verified to agree.
- MinHash is the affine integer family h_j(x) = (a_j*x + b_j) mod (2^31-1)
  over that base hash: ONE md5 per shingle total, then cheap integer mins
  (a per-seed salted-md5 design was 12x the hashing cost — replaced).
- SimHash bit tests shift the same 60-bit base hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIMHASH_BITS = 32


def tokens(col: str) -> Column:
    """Whitespace tokenization of a text column."""
    return F.split(F.col(col), " ")


def shingles(tokens_col: str, k: int = 3) -> Column:
    """k-word shingles; empty array when the doc has fewer than k tokens.
    (sequence() would run DESCENDING for start>stop — hence the guard.)"""
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {k} THEN "
        f"transform(sequence(0, size({tokens_col}) - {k}), i -> "
        f"concat_ws(' ', " +
        ", ".join(f"element_at({tokens_col}, i + {j + 1})" for j in range(k)) +
        f")) ELSE CAST(array() AS ARRAY<STRING>) END")


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_a(j: int) -> int:
    return 2 * j + 1


def minhash_b(j: int) -> int:
    return 7919 * j + 13


def minhash_min_exprs(h_col: str, n_hashes: int) -> list[Column]:
    """Aggregate MIN expressions for the affine MinHash family
    h_j(x) = (a_j * x + b_j) mod p over a base-hash column.

    One md5 per shingle total (the base hash), then n cheap integer ops —
    NOT n salted md5s per shingle, which costs n x the string hashing and
    dominated the whole LSH pipeline in profiling.  a_j * x < 2^62 so the
    arithmetic never overflows BIGINT (ANSI-safe, identical in DuckDB)."""
    return [
        F.min(F.expr(f"({minhash_a(j)} * {h_col} + {minhash_b(j)}) % {MINHASH_P}"))
        .alias(f"sig_{j}")
        for j in range(n_hashes)
    ]


def token_hash60(tok_expr: str) -> str:
    """SQL fragment: 60-bit integer hash of a token expression (Spark side)."""
    return f"CAST(conv(substring(md5({tok_expr}), 1, 15), 16, 10) AS BIGINT)"


def token_hash31(tok_expr: str) -> str:
    """60-bit md5 prefix reduced mod 2^31-1 — the MinHash base hash."""
    return f"({token_hash60(tok_expr)} % {MINHASH_P})"


def fingerprint(col: str) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct token set
    (catches reordered/duplicated-word copies — the dominant near-dup mode)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(
        F.split(F.lower(F.col(col)), " ")))))
