"""Vector / hashing column functions (SURVEY.md §2 B-block).

Embeddings are ``array<float>`` columns; all math runs through
``zip_with`` / ``aggregate`` higher-order functions — JVM-evaluated,
no Python round-trips, so similarity scans scale with the executors.

Token hashing uses md5 so an external oracle (DuckDB) can reproduce
the exact same values: both engines expose md5 over strings and
hex→int conversion, whereas murmur/xxhash builtins differ.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_61 = (1 << 61) - 1


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_hash64(token: Column | str, bits: int = 48) -> Column:
    """Portable token hash: top ``bits`` of md5(token) as bigint.

    ``conv`` parses up to 16 hex chars; we take bits/4 chars so the
    result fits comfortably in a signed 64-bit with headroom for
    modular arithmetic on top. DuckDB mirror:
    ``('0x' || substr(md5(t),1,bits/4))::BIGINT``.
    """
    nhex = bits // 4
    return F.conv(F.substring(F.md5(_col(token)), 1, nhex), 16, 10).cast("bigint")


def dot_product(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two float-array columns, NULL-safe on
    zero vectors."""
    num = dot_product(a, b)
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > 0, num / den)


def minhash_signature_from_hashes(hashes: Column | str, perms: list[tuple[int, int]]) -> Column:
    """MinHash signature over a pre-computed ``array<bigint>`` of
    token hashes. Callers should materialize the hash array as its
    own column first — otherwise every permutation recomputes the
    md5s (k× the scan cost; measured 150× slower end-to-end)."""
    h_arr = _col(hashes)
    sig = []
    for a, b in perms:
        assert a < (1 << 31) and b < (1 << 31), "perm coefficients must be < 2^31"
        permed = F.transform(
            h_arr, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_61)
        )
        sig.append(F.array_min(permed))
    return F.array(*sig)


def simhash64(tokens: Column | str) -> Column:
    """64-bit SimHash over a token array: per-bit majority vote of
    the 48-bit token hashes (bits 0..47 from md5, bits 48..63 from a
    second md5 slice).

    Convenience form for small frames/tests — the 64 bit-votes each
    reference the hash arrays, so hot paths must stage the hashes as
    their own columns and call :func:`simhash_from_hashes` (otherwise
    every vote recomputes the md5s).
    """
    toks = _col(tokens)
    h1 = F.transform(toks, lambda t: token_hash64(t, bits=48))
    h2 = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 13, 4), 16, 10).cast("bigint"))
    return simhash_from_hashes(h1, h2)


def simhash_from_hashes(h1: Column | str, h2: Column | str) -> Column:
    """SimHash bit-vote from pre-computed hash arrays: ``h1`` the
    48-bit md5 hashes, ``h2`` the 16-bit second md5 slice (see
    :func:`simhash64`). Stage both as real columns so Catalyst's
    multi-reference guard protects them from re-inlining into the 64
    vote aggregates."""
    h1 = _col(h1)
    h2 = _col(h2)
    n = F.size(h1).cast("bigint")

    def vote(hashes: Column, bit: int, out_bit: int) -> Column:
        ones = F.aggregate(
            F.transform(hashes, lambda h: F.shiftright(h, bit).bitwiseAND(F.lit(1))),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        # bit 63 is the sign bit: 1<<63 overflows signed-64, use min-long
        val = (1 << out_bit) if out_bit < 63 else -(1 << 63)
        return F.when(ones * 2 >= n, F.lit(val).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )

    bit_cols = [vote(h1, b, b) for b in range(48)]
    bit_cols += [vote(h2, b, 48 + b) for b in range(16)]
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit bigint fingerprints."""
    x = _col(a).bitwiseXOR(_col(b))
    return F.bit_count(x).cast("int")


def max_abs(a: Column | str) -> Column:
    """Max |x| over a float-array column (symmetric-quantization
    scale basis), as double."""
    return F.aggregate(
        _col(a),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """Symmetric int8 quantization: ``round(x / scale)`` per element
    (|x| <= 127*scale by construction when scale = max_abs/127, so no
    clamp needed). Returns ``array<bigint>``. All arithmetic is
    double-precision and identical in DuckDB (list_transform +
    round), so quantized codes are oracle-reproducible."""
    return F.transform(
        _col(a), lambda x: F.round(x.cast("double") / scale, 0).cast("bigint")
    )
