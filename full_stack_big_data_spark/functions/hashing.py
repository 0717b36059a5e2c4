"""Portable deterministic hashing.

Spark's native ``hash``/``xxhash64`` and DuckDB's ``hash`` are different
algorithms, so any operator whose *results* depend on hash values (MinHash,
SimHash, fingerprints) is built on md5 — both engines produce identical hex
digests. Two forms:

- ``md5_concat``: the hex digest of a seeded concatenation (string-ordered
  min works for MinHash: lexicographic order on hex is a total order and
  the digest is uniform, which is all MinHash requires).
- ``hex64``: first 15 hex chars parsed as a 60-bit integer, for bitwise
  operators (SimHash) and modular arithmetic.

md5 here is a deterministic mixer, not cryptography. It is JVM-side
(Catalyst ``md5``) so the hot path stays in whole-stage codegen.

Literal families (MinHash affine constants, SRP hyperplanes, IVF and PQ
codebooks, random-projection signs) are instead drawn on the driver from
one integer stream, :func:`lcg_stream`, and embedded as literals in both
the Spark plan and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def md5_concat(*cols: Column) -> Column:
    """md5 hex digest of '|'-joined column values (Spark side)."""
    return F.md5(F.concat_ws("|", *cols))


def md5_concat_sql(*exprs: str) -> str:
    joined = ", ".join(exprs)
    return f"md5(concat_ws('|', {joined}))"


def hex64(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative bigint (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hex64_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`hex64`."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


_LCG_M = 2147483647   # 2³¹-1, the Mersenne modulus of the MINSTD LCG


def lcg_stream(seed: int, n: int) -> list[int]:
    """The next ``n`` states of the multiplicative LCG x → 48271·x mod
    2³¹-1 (Park–Miller MINSTD), starting after ``seed``, as Python ints.
    Every literal family draws from it with its own seed and maps each
    state to its value range (e.g. ``s % 2001 - 1000``); pure integer
    arithmetic, so the literals are the same on every platform."""
    out = []
    for _ in range(n):
        seed = (seed * 48271) % _LCG_M
        out.append(seed)
    return out
