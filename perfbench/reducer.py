"""Streaming reducer of the reference job (max cost per store location).

Reads ``key,value`` lines sorted by key on stdin and writes one
``key,max`` line per key.  The running maximum starts at 0, as in the
reference reducer, so every cost must be positive.
"""

from __future__ import annotations

import sys
from collections.abc import Iterable, Iterator
from itertools import groupby


def reduce_key(key: str, values: Iterable[str]) -> Iterator[str]:
    best = 0.0
    for v in values:
        best = max(best, float(v))
    yield f"{key},{best}"


if __name__ == "__main__":
    pairs = (line.rstrip("\n").split(",", 1) for line in sys.stdin if line.strip())
    for key, group in groupby(pairs, key=lambda kv: kv[0]):
        for out in reduce_key(key, (v for _, v in group)):
            sys.stdout.write(out + "\n")
