"""Portable expression fragments — each helper emits a (Spark SQL, DuckDB
SQL) pair computing the *bit-identical* value in both engines.

Why: the driver's correctness gate value-hashes our Spark output against a
DuckDB oracle.  Anything float-order-dependent or engine-hash-dependent
would flake, so every hashing / text / vector primitive here is built from
operations with identical semantics in both engines:

  * ``md5`` hex strings (identical), string compares (bytewise),
  * integer arithmetic (order-independent, exact),
  * doubles only as a final deterministic function of exact integers.

This is the analog of the reference's comparator discipline: UDA picks one
byte-level comparator per job and every stage agrees on it
(src/Merger/CompareFunc.cc:95-113); here both engines agree on one
byte-level definition of every derived value.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# tokenization


def tokens(col: str, engine: str) -> str:
    """Lowercased space-split tokens. Both engines keep empty strings."""
    if engine == "spark":
        return f"split(lower({col}), ' ')"
    return f"string_split(lower({col}), ' ')"


def shingles(toks: str, k: int, engine: str) -> str:
    """k-token shingles joined by ' '; short docs yield one whole-doc shingle.

    Spark's ``sequence(1, n)`` descends when n < 1 (would emit bogus
    shingles) and DuckDB's ``range(1, n)`` is empty — both sides therefore
    guard explicitly on token count < k.
    """
    if engine == "spark":
        return (
            f"CASE WHEN size({toks}) >= {k} THEN "
            f"transform(sequence(1, size({toks}) - {k} + 1), "
            f"i -> array_join(slice({toks}, i, {k}), ' ')) "
            f"ELSE array(array_join({toks}, ' ')) END"
        )
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


# ---------------------------------------------------------------------------
# portable hashing (md5-derived, engine-identical)


def hash60(expr: str, engine: str) -> str:
    """60-bit non-negative integer hash: fold the first 15 hex chars of md5.

    Pure BIGINT arithmetic (acc*16 + digit), exact in both engines.
    """
    if engine == "spark":
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, 16), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 AS BIGINT))), "
        f"(a, b) -> a * 16 + b)"
    )


def minhash_sig_duck(shingles_expr: str, n_hashes: int) -> str:
    """DuckDB oracle: array of ``n_hashes`` MinHash values (8-hex-char
    strings) over a shingle list.

    The "permutation" family is chunked salted md5: hash h uses salt
    ``h div 4`` and hex chunk ``h mod 4`` of md5(salt || '|' || shingle),
    so ``n_hashes`` hash functions cost only ``n_hashes / 4`` md5 calls
    per shingle.  The min of hex strings is a bytewise min, identical
    across engines (CompareFunc.cc:70-73 analog); 32 bits per hash is
    ample for min-hash.  ``n_hashes`` must be a multiple of 4.  The Spark
    side computes the same family in the MinHash Arrow kernel
    (operators/dedup.py).
    """
    if n_hashes % 4 != 0:
        raise ValueError("n_hashes must be a multiple of 4")
    return (
        f"flatten(list_transform(range(0, {n_hashes // 4}), salt -> "
        f"list_transform(range(0, 4), c -> "
        f"list_min(list_transform({shingles_expr}, s -> "
        f"substr(md5(salt::VARCHAR || '|' || s), c * 8 + 1, 8))))))"
    )


SIMHASH_BITS = 60


def simhash60_duck_sql(source: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle fragment: 60-bit SimHash (``id_col``, sig) per row of
    ``source`` (a table name or a parenthesized subquery).

    Two md5s per token: bits 1-32 from md5(t), 33-60 from md5('x' || t).
    Bit i of token t votes +1 if its hex char >= '8' (high bit of the
    nibble), else -1; signature bit i is 1 iff the vote sum >= 0.
    Integer-only, order-independent — safe under any partitioning.
    60 bits (not 64) keeps the packed signature positive in a BIGINT.
    32-bit signatures proved too coarse on natural-ish text: frequent
    tokens dominate the votes and unrelated documents collide, which
    both degrades near-dup precision and blows up the LSH band join.
    The Spark side is the SimHash Arrow kernel
    (operators/dedup.py:simhash_signatures).
    """
    toks = tokens(text_col, "duck")
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest({toks}) AS t FROM {source}
),
votes AS (
  SELECT {id_col}, i,
         SUM(CASE WHEN substr(md5(t) || md5('x' || t), i, 1) >= '8' THEN 1 ELSE -1 END) AS v
  FROM tok, range(1, {SIMHASH_BITS + 1}) r(i)
  GROUP BY {id_col}, i
)
SELECT {id_col},
       SUM(CASE WHEN v >= 0 THEN 1::BIGINT << ({SIMHASH_BITS} - i) ELSE 0 END)::BIGINT AS sig
FROM votes GROUP BY {id_col}
""".strip()


# ---------------------------------------------------------------------------
# vectors (exact integer fixed-point; see similarity.py)

FIXED_POINT = 1_000_000


def int_vec(vec: str, engine: str) -> str:
    """float32 vector -> exact fixed-point BIGINT vector (×1e6, rounded)."""
    if engine == "spark":
        return (
            f"transform({vec}, v -> CAST(round(CAST(v AS DOUBLE) * {FIXED_POINT}, 0) AS BIGINT))"
        )
    return (
        f"list_transform({vec}, v -> CAST(round(CAST(v AS DOUBLE) * {FIXED_POINT}, 0) AS BIGINT))"
    )


def int_dot(a: str, b: str, engine: str) -> str:
    """Exact integer dot product of two fixed-point vectors."""
    if engine == "spark":
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def zvalue(a: str, b: str, bits: int, engine: str) -> str:
    """Morton (Z-order) value: interleave the low ``bits`` bits of two
    non-negative BIGINT expressions — a's bit i lands at 2i+1, b's at 2i.
    Unrolled pure-integer expression, identical results in both engines
    (Spark spells shifts as functions, DuckDB as operators)."""
    terms = []
    for i in range(bits):
        if engine == "spark":
            terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def quant_vec(v: str, maxabs: str, qmax: int, engine: str) -> str:
    """Symmetric scalar quantization of a fixed-point BIGINT vector to
    [-qmax, qmax]: q_i = round(x_i * qmax / maxabs), spelled as exact
    integer arithmetic (round half away from zero) so both engines
    produce bit-identical codes.  maxabs = 0 (zero vector) maps to all
    zeros instead of dividing by zero."""
    if engine == "spark":
        return (
            f"transform({v}, x -> CAST(CASE WHEN {maxabs} = 0 THEN 0 "
            f"WHEN x >= 0 THEN (x * {qmax} + {maxabs} div 2) div {maxabs} "
            f"ELSE -(((-x) * {qmax} + {maxabs} div 2) div {maxabs}) END AS INT))"
        )
    return (
        f"list_transform({v}, x -> CAST(CASE WHEN {maxabs} = 0 THEN 0 "
        f"WHEN x >= 0 THEN (x * {qmax} + {maxabs} // 2) // {maxabs} "
        f"ELSE -(((-x) * {qmax} + {maxabs} // 2) // {maxabs}) END AS INT))"
    )


def cosine_from_ints(dot: str, norm_a: str, norm_b: str) -> str:
    """Deterministic double cosine from exact integer dot/norms (same text
    works in both engines)."""
    return (
        f"CAST({dot} AS DOUBLE) / (sqrt(CAST({norm_a} AS DOUBLE)) * "
        f"sqrt(CAST({norm_b} AS DOUBLE)))"
    )


# ---------------------------------------------------------------------------
# deterministic pseudo-random (pi workload)


def lcg_unit(i: str, mult: int, inc: int) -> str:
    """Uniform [0,1) from an integer index via a 31-bit LCG — exact integer
    mod then one double division.

    NOTE: fractional literals are avoided throughout this module — Spark
    SQL parses ``2147483648.0`` as DECIMAL (DuckDB divides as DOUBLE),
    which silently changes arithmetic.  Always CAST to DOUBLE explicitly.
    """
    return f"(CAST(({i} * {mult} + {inc}) % 2147483648 AS DOUBLE) / 2147483648)"
