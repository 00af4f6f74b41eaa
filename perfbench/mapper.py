"""Streaming mapper of the reference job (max cost per store location).

Reads TSV transactions on stdin and writes one ``location,cost`` line
per well-formed line.  A line without exactly six tab-separated fields
is skipped, as the reference mapper does.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator


def map_line(line: str) -> Iterator[str]:
    fields = line.strip().split("\t")
    if len(fields) == 6:
        yield f"{fields[2]},{fields[4]}"


if __name__ == "__main__":
    for line in sys.stdin:
        for out in map_line(line):
            sys.stdout.write(out + "\n")
