"""Generic MapReduce surface (reference F3-F7) — the fidelity layer.

The reference's core feature is running arbitrary Hadoop-Streaming-style
map/reduce programs (read lines on stdin, write lines on stdout) over a
partitioned text dataset:

    map:     ``/root/reference/Worker/worker.py:72-101``  (Popen pipe :88)
    shuffle: ``/root/reference/Worker/worker.py:111-169`` (md5(key) % W :213-214)
    sort:    ``/root/reference/Worker/worker.py:179-183`` (lexicographic)
    reduce:  ``/root/reference/Worker/worker.py:173-208`` (Popen pipe :193)
    barrier scheduling: ``/root/reference/Master/master_handler.py:130-259``

Spark equivalences used here, one lazy DataFrame plan (no Spark job
runs until the caller's action or the ``output_path`` write):

    map     → ``TRANSFORM(value) ... USING mapper_cmd`` (Spark SQL script
              transformation: the external program, byte-exact lines)
    shuffle → ``repartition(W, substring_index(line, ',', 1))`` (key =
              text before the first ',', exactly ``Worker/worker.py:122``'s
              framing)
    sort    → ``sortWithinPartitions(line)`` (lexicographic on the full
              line, matching ``data.sort()`` at ``worker.py:182``)
    reduce  → ``TRANSFORM(line) ... USING reducer_cmd`` over each sorted
              partition
    barriers→ Spark stage scheduling (automatic)

Both ``TRANSFORM``s read and write ``ROW FORMAT DELIMITED FIELDS
TERMINATED BY '\\n' NULL DEFINED AS '\\n'``: no line can hold the field
terminator or equal the NULL marker, so every program output line is one
non-NULL string, tabs and a literal ``\\N`` line included (the default
row format splits on tabs and reads ``\\N`` as NULL).

Deliberate non-reproductions (reference bugs, SURVEY.md §7):
- the fire-and-forget shuffle race (``worker.py:157-161``) — Spark's
  shuffle is ack'd;
- md5 placement parity — Spark's hash (Murmur3 here, ``portable_hash``
  in ``run_inprocess``) places keys on different partitions than md5%W,
  but per-key co-location (the actual contract, and explicitly
  "modular" per the spec PDF) is preserved.

Deliberate behaviour changes from the earlier ``rdd.pipe`` design, each
pinned by a test in ``tests/test_mapreduce_compat.py``:
- a program that exits non-zero fails the job (``Subprocess exited with
  status N``); ``rdd.pipe``'s default ``checkCode=False`` silently kept
  the partial output.  Hadoop Streaming fails here by default too;
- a bare ``\\r`` inside a program's output line splits that line (Java's
  ``readLine``, as Hadoop Streaming's ``LineReader``); input lines are
  split on ``\\r`` by ``spark.read.text`` on both paths;
- commands run under ``/bin/bash -c`` instead of ``shlex.split`` + exec,
  so quote program paths with ``shlex.quote`` (the CLI does);
- a program is not started on an empty partition, so a reducer that
  prints on empty stdin adds nothing for a reducer partition that got
  no keys; when the mapper emits nothing the result is empty;
- keys are placed by Murmur3 instead of ``portable_hash`` (already not
  md5 parity; per-key co-location is unchanged).

``run_inprocess`` is the idiomatic fast path: the same contract with
Python callables instead of subprocesses (no pipe / fork overhead), for
users migrating reference jobs incrementally.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.rdd import portable_hash
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# one program line per row, never NULL (see the module docstring)
_ROW_FORMAT = r"ROW FORMAT DELIMITED FIELDS TERMINATED BY '\n' NULL DEFINED AS '\n'"
# {cmd} and {src} are filled by spark.sql's formatter: the command as an
# escaped SQL string literal, the input DataFrame as a temp view.
_MAP_SQL = (
    "SELECT TRANSFORM(value) " + _ROW_FORMAT + " USING {cmd}"
    " AS (line string) " + _ROW_FORMAT + " FROM {src}"
)
_REDUCE_SQL = (
    "SELECT TRANSFORM(line) " + _ROW_FORMAT + " USING {cmd}"
    " AS (value string) " + _ROW_FORMAT + " FROM {src}"
)


def _key_of(line: str) -> str:
    # the framework-imposed framing: key = text before the first comma
    # (/root/reference/Worker/worker.py:122)
    return line.split(",", 1)[0]


def run_streaming_job(
    spark: SparkSession,
    input_path: str,
    mapper_cmd: str,
    reducer_cmd: str,
    num_reducers: int,
    output_path: str | None = None,
) -> DataFrame:
    """Run external mapper/reducer programs byte-exactly, Hadoop-Streaming
    style (e.g. ``mapper_cmd='python /path/mapper.py'``; each command
    runs under ``/bin/bash -c``).

    Returns the reduced lines as a lazy ``value: string`` DataFrame; also
    writes text part-files when ``output_path`` is given (the analog of
    the reference's ``<file>_part-00000.<ext>`` output, F10).
    """
    mapped = spark.sql(_MAP_SQL, cmd=mapper_cmd, src=spark.read.text(input_path))
    # hash-partition on the key, sort lexicographically on the whole line
    # within each partition: exactly F4 + F5 (substring_index(s, ',', 1)
    # is _key_of).
    shuffled = mapped.repartition(
        num_reducers, F.substring_index("line", ",", 1)
    ).sortWithinPartitions("line")
    out = spark.sql(_REDUCE_SQL, cmd=reducer_cmd, src=shuffled)
    if output_path is not None:
        out.write.mode("overwrite").text(output_path)
    return out


def run_inprocess(
    spark: SparkSession,
    input_path: str,
    mapper: Callable[[str], Iterable[str]],
    reducer: Callable[[str, Iterator[str]], Iterable[str]],
    num_reducers: int,
    output_path: str | None = None,
) -> DataFrame:
    """Same dataflow contract, in-process (no subprocess pipes).

    ``mapper(line) -> iterable of 'key,value' lines``;
    ``reducer(key, values_iterator) -> iterable of output lines`` —
    i.e. the streaming reducer's per-key-group fold with the
    sort/group bookkeeping done by the framework instead of user code.
    """
    lines = spark.read.text(input_path).rdd.map(lambda r: r[0])
    mapped = lines.flatMap(mapper)

    keyed = mapped.map(lambda line: (_key_of(line), line.split(",", 1)[1] if "," in line else ""))
    grouped = keyed.repartitionAndSortWithinPartitions(
        numPartitions=num_reducers,
        partitionFunc=portable_hash,
    )

    def reduce_partition(items: Iterator[tuple[str, str]]) -> Iterator[str]:
        current_key: str | None = None
        buf: list[str] = []
        for k, v in items:
            if k != current_key:
                if current_key is not None:
                    yield from reducer(current_key, iter(buf))
                current_key, buf = k, [v]
            else:
                buf.append(v)
        if current_key is not None:
            yield from reducer(current_key, iter(buf))

    reduced = grouped.mapPartitions(reduce_partition, preservesPartitioning=True)
    # declared, not inferred: inference runs a job (and fails on an empty
    # result)
    out = spark.createDataFrame(reduced.map(lambda v: (v,)), "value string")
    if output_path is not None:
        out.write.mode("overwrite").text(output_path)
    return out
