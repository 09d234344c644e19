"""Column-function library: cross-engine stable hashing, shingling, vector math.

Everything here returns Catalyst ``Column`` expressions (JVM-side, codegen'd)
— no Python UDFs. The hash family is built on ``md5`` specifically because it
is bit-identical across engines (Spark, DuckDB, Trino...), which makes
hash-dependent operators (MinHash, SimHash, fingerprints) verifiable against
an external SQL oracle — unlike ``xxhash64``/``hash`` whose implementations
are engine-private.
"""

from __future__ import annotations

import random
from collections.abc import Callable

from pyspark.sql import Column, functions as F

# 2^31 - 1 (Mersenne prime): hash domain for permutation arithmetic. Keeping
# h < 2^31 and coefficients < 2^31 bounds a*h+b below 2^63 — no int64
# overflow on any engine.
HASH31_PRIME = 2_147_483_647
# 2^61 - 1 (Mersenne prime): modulus for the permutation family.
PERM_PRIME = 2_305_843_009_213_693_951

# Deterministic MinHash permutation coefficients, shared with oracle SQL.
_rng = random.Random(0x5EED)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, HASH31_PRIME), _rng.randrange(0, HASH31_PRIME))
    for _ in range(64)
]


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def stable_hash60(col: str | Column) -> Column:
    """60-bit stable hash: first 15 hex chars of md5, as BIGINT.

    DuckDB equivalent: CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def stable_hash31(col: str | Column) -> Column:
    """Stable hash reduced mod 2^31-1 (always positive; DuckDB: h60 % prime)."""
    return F.pmod(stable_hash60(col), F.lit(HASH31_PRIME))


def normalize_text(col: str | Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text (shared with oracles:
    lower(trim(regexp_replace(text, '\\s+', ' '))))."""
    return F.lower(F.trim(F.regexp_replace(_c(col), r"\s+", " ")))


def words(col: str | Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(col), " ")


def ngrams(
    tokens: Column,
    n: int,
    gram: Callable[[Column], Column] = lambda s: F.concat_ws(" ", s),
) -> Column:
    """Ordered, duplicate-keeping n-grams of an array expression:
    ``gram(window)`` for every window of ``n`` consecutive elements, in
    position order; empty when there are fewer than ``n`` (or the array is
    null). ``gram`` defaults to space-joining the window.

    A lambda may reference per-row values only through a lambda variable
    or a plain column. Spark evaluates a lambda body once per element, so
    an expression such as ``words(text)`` referenced inside it re-runs its
    regex and split over the whole row for every position: O(len²) per
    row. Here ``tokens`` is evaluated once, bound by a one-element
    ``transform``, and the position lambda sees only that variable.
    """

    def windows(w: Column) -> Column:
        # one element per window start; the lambda's index i is its offset
        starts = F.slice(w, 1, F.greatest(F.size(w) - (n - 1), F.lit(0)))
        return F.transform(starts, lambda _, i: gram(F.slice(w, i + 1, n)))

    return F.transform(F.array(F.coalesce(tokens, F.array())), windows)[0]


def word_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column (empty array if < k words).

    Built by :func:`ngrams`, so the text is tokenized once per row: a
    lambda may reference per-row values only through a lambda variable or
    a plain column, never through an expression such as ``words(col)``."""
    return F.array_distinct(ngrams(words(col), k))


def as_double_array(col: str | Column) -> Column:
    return F.transform(_c(col), lambda x: x.cast("double"))


def dot_product(a: str | Column, b: str | Column) -> Column:
    """Sequential left-fold dot product in double precision — deterministic
    evaluation order, so results are bit-identical across engines that fold
    sequentially (DuckDB list_reduce)."""
    prods = F.zip_with(
        as_double_array(a), as_double_array(b), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
