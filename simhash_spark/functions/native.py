"""Native Catalyst column expressions — the JVM-side, codegen'd fast path.

Everything here compiles to whole-stage-codegen'd Java: no Python worker, no
Arrow transfer. These mirror spec.py bit-for-bit (tested in
tests/test_udfs.py::test_native_keys_match_spec).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from simhash_spark import spec


def hamming(a, b) -> Column:
    """popcount(a XOR b) — the reference's popcnt loop
    (/root/reference/README.md:16) as one codegen'd expression."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)) if isinstance(a, str) else a.bitwiseXOR(b))


def pigeonhole_key_cols(fp_col: str, n_blocks: int, radius: int) -> list[Column]:
    """The block-combination bucket keys as native bit expressions.

    Matches spec.pigeonhole_keys: block j = bits [64-b(j+1), 64-bj) of the
    uint64 fingerprint (logical shifts on the int64 carrier), key = combo
    index tag followed by the clean blocks. One Column per combination —
    the candidate operator folds each into a packed bucket key.
    """
    bits = 64 // n_blocks
    mask = (1 << bits) - 1
    fp = F.col(fp_col)
    blocks = [
        F.shiftrightunsigned(fp, 64 - bits * (j + 1)).bitwiseAND(F.lit(mask))
        for j in range(n_blocks)
    ]
    keys = []
    for ci, combo in enumerate(spec.block_combinations(n_blocks, radius)):
        k: Column = F.lit(ci).cast("long")
        for j in combo:
            k = F.shiftleft(k, bits).bitwiseOR(blocks[j])
        keys.append(k)
    return keys
