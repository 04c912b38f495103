"""Z-order (Morton) interleaving for spatial sink clustering.

The reference writes HFiles sorted by ``salt:mapKey:z:x:y`` — lexicographic
in x-then-y, so a map-viewport range scan touches O(height) disjoint key
ranges. Interleaving the tile coordinates' bits gives the classic Z-order
curve: tiles that are close on the map are close in key space, and a
viewport scan touches a near-minimal set of file ranges. This matters at
100 TB where the sink is object storage and every extra range is a seek.

Pure native expressions (shift/mask/or), identical text in Spark SQL and
DuckDB, so the oracle can pin it. 16 bits per axis covers zoom 16's
2^16-tile grid exactly (the reference's own max, ``TileXYUDF.java:65``).
"""

from __future__ import annotations

BITS = 16


def morton_sql(x: str, y: str, bits: int = BITS) -> str:
    """Dialect-shared SQL: interleave ``x`` (even positions) and ``y`` (odd).

    ``& | << >>`` parse identically in Spark SQL and DuckDB; inputs must be
    non-negative and < 2^bits.
    """
    terms = []
    for i in range(bits):
        # cast BEFORE shifting: with 32-bit ints, shift position >= 31
        # overflows (DuckDB raises; Spark silently wraps negative)
        terms.append(f"(CAST(({x} >> {i}) & 1 AS BIGINT) << {2 * i})")
        terms.append(f"(CAST(({y} >> {i}) & 1 AS BIGINT) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def morton_py(x: int, y: int, bits: int = BITS) -> int:
    """Python twin for tests."""
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out
