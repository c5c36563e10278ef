"""Order-insensitive fingerprints shared by the worker (program output)
and the orchestrator (DuckDB expectation).

A fingerprint is ``(row count, sum of per-row CRC32 mod 2**64)`` over
rows canonicalised the same way on both sides, so two result sets
match only if they hold the same multiset of rows.
"""

from __future__ import annotations

import math
import zlib

_MOD = 1 << 64


def cell(v):
    """The registry oracle's cell rule: floats by exact repr, NaN as a
    token, everything else by repr."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


class Fingerprint:
    def __init__(self) -> None:
        self.rows = 0
        self.acc = 0

    def add(self, row: tuple) -> None:
        self.rows += 1
        self.acc = (self.acc + zlib.crc32(repr(row).encode())) % _MOD

    def value(self) -> list[int]:
        return [self.rows, self.acc]


def of_rows(columns: list[str], rows) -> list:
    """Fingerprint of a result with its columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    fp = Fingerprint()
    for r in rows:
        fp.add(tuple(cell(r[i]) for i in order))
    return [sorted(columns), *fp.value()]
