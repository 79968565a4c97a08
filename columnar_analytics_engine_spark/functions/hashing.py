"""Cross-engine deterministic hashing.

MinHash/SimHash need a keyed hash that is (a) deterministic, (b) cheap,
and (c) reproducible in the DuckDB oracle.  Spark's native ``xxhash64``
has no DuckDB twin, so we derive a 60-bit integer from md5 — md5 is
identical everywhere, and 15 hex chars (60 bits) fit a signed int64.

Each formula here is written ONCE as a template over SQL text: pass
SQL expressions and a dialect (``functions/dialect.py``), get SQL text
back.  Spark call sites wrap it in ``F.expr``; the DuckDB oracles
interpolate it.  The only dialect difference the hashes touch is the
hex parse of the digest prefix (``dialect.hex_to_bigint``):

    SPARK :  cast(conv(substring(md5(prefix || x), 1, 15), 16, 10) as bigint)
    DUCKDB:  CAST('0x' || substring(md5(prefix || x), 1, 15) AS BIGINT)

Both produce the same non-negative int64 for the same input (verified
bit-for-bit against ``hashlib.md5`` in tests/test_hashing.py).  The
``prefix`` acts as the hash-family seed (one prefix per MinHash
permutation).  For throughput-critical paths that don't need oracle
parity, swap in ``F.xxhash64``.

A whole family rendered as one SQL text costs one parse instead of
~40·k py4j Column calls at plan construction; the repeated digest
sub-expressions collapse under whole-stage codegen's subexpression
elimination, so per-row digest work is one md5 per half.
"""

from __future__ import annotations

import random as _random

from columnar_analytics_engine_spark.functions.dialect import SPARK, Dialect


def _md5_bits(x: str, start: int, d: Dialect) -> str:
    """60 bits of ``md5(x)`` from hex char ``start`` (1 or 16)."""
    return d.hex_to_bigint(f"substring(md5({x}), {start}, 15)")


def h60(prefix: str, x: str, d: Dialect = SPARK) -> str:
    """60-bit keyed hash of the string expression ``x`` (seeded by ``prefix``)."""
    return _md5_bits(f"{d.lit(prefix)} || ({x})", 1, d)


# -- affine k-family: k hashes from ONE md5 -----------------------------------
#
# MinHash needs k ≈ 32 independent hashes per term.  k separate md5 calls
# cost k digests per *vocabulary term* — harmless on a toy vocab, real
# money when the vocabulary is billions of shingles.  Instead: one md5,
# split into two independent 60-bit halves x1/x2, then k affine maps
#
#     h_i = ((a_i·x1) mod p + (b_i·x2) mod p + i) mod p,   p = 2^31 − 1
#
# (a two-point universal family).  All intermediates stay < 2^62, so the
# arithmetic is exact int64 on both engines and the DuckDB oracle
# reproduces it bit-for-bit.  The a/b constants are fixed pseudorandom
# ints — part of the operator definition.

P31 = 2_147_483_647  # 2^31 − 1 (Mersenne prime)

_rng = _random.Random(0xC0FFEE)
MINHASH_A = [_rng.randrange(1, P31) for _ in range(64)]
MINHASH_B = [_rng.randrange(1, P31) for _ in range(64)]
del _rng


def affine_hash_array(x: str, k: int, d: Dialect = SPARK) -> str:
    """The k-family of the string expression ``x`` as ONE array of
    int32-range longs (element i+1 is member i).  As one array-valued
    expression the two digests are shared by all k members (k separate
    columns re-inline them per member under codegen: 2·k digests per
    term instead of 2)."""
    x1 = f"({_md5_bits(x, 1, d)} % {P31})"
    x2 = f"({_md5_bits(x, 16, d)} % {P31})"
    return d.array(
        [
            f"((({MINHASH_A[i]} * {x1}) % {P31}) + (({MINHASH_B[i]} * {x2}) % {P31}) + {i}) % {P31}"
            for i in range(k)
        ]
    )


# -- numeric n-gram (shingle) hashing -----------------------------------------
#
# Shingle queries need a hash per token POSITION over an n-token window.
# Building the joined window string and md5-ing it costs one string
# allocation + one digest per position (n-token windows overlap, so each
# token is re-concatenated and re-hashed n times).  Instead: md5 each
# token ONCE, split the digest into two independent 31-bit values, and
# combine windows with two polynomial rolling hashes (bases B1/B2 over
# GF(p), p = 2^31 − 1); the pair packs into one 62-bit int.  A gram
# collision needs BOTH 31-bit polynomials to collide (~2^-62) — same
# collision regime as the 60-bit string hash it replaces.  All
# intermediates stay < 2^63, so the arithmetic is exact int64 on both
# engines and the DuckDB oracle replays it bit-for-bit.

ROLL_B1 = 1_000_003
ROLL_B2 = 999_999_937


def token_hash_structs(tokens: str, d: Dialect = SPARK) -> str:
    """array<struct<a,b>> of per-token 31-bit hash pairs (one md5 each)
    of the string-array expression ``tokens``."""
    pair = d.struct(
        {
            "a": f"{_md5_bits('_t', 1, d)} % {P31}",
            "b": f"{_md5_bits('_t', 16, d)} % {P31}",
        }
    )
    return f"{d.transform}({tokens}, _t -> {pair})"


def gram_hash_array(pairs: str, n: int, d: Dialect = SPARK) -> str:
    """62-bit rolling hash per n-gram position of the token-hash-pair
    array expression ``pairs`` (see :func:`token_hash_structs`); empty
    when it holds fewer than ``n`` pairs."""

    def roll(field: str, base: int) -> str:
        acc = f"{d.elem(pairs, '_i')}.{field}"
        for j in range(1, n):
            acc = f"(({acc}) * {base} + {d.elem(pairs, f'_i + {j}')}.{field}) % {P31}"
        return acc

    gram = f"({roll('a', ROLL_B1)}) * 2147483648 + ({roll('b', ROLL_B2)})"
    positions = d.positions(f"{d.size}({pairs}) - {n - 1}")
    return f"{d.transform}({positions}, _i -> {gram})"
