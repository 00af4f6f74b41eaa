"""Fidelity tests for the generic MapReduce surface (reference F3-F7).

The strongest check in the repo: run the reference's OWN mapper.py and
reducer.py (unmodified, from /root/reference) through the Spark compat
layer over the reference's own data.txt, and require byte-equality with
the golden output the reference repo committed from a real 3-worker run
(/root/reference/Client/temp/data_part-00000.txt — verified in
SURVEY.md §5 to be a true input→output golden pair).
"""

from __future__ import annotations

import os
import shlex
import sys

import pytest
from pyspark.sql import functions as F

from yet_another_map_reduce_spark.operators.mapreduce import (
    run_inprocess,
    run_streaming_job,
)

REF = "/root/reference"
GOLDEN = os.path.join(REF, "Client", "temp", "data_part-00000.txt")

needs_reference = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference repo not present"
)


def _golden_lines() -> list[str]:
    with open(GOLDEN) as fh:
        return sorted(line.rstrip("\n") for line in fh if line.strip())


@needs_reference
def test_streaming_job_matches_reference_golden(spark):
    """TRANSFORM with the verbatim reference programs reproduces the
    reference's committed end-to-end result, byte for byte."""
    out = run_streaming_job(
        spark,
        input_path=os.path.join(REF, "data.txt"),
        mapper_cmd=f"{sys.executable} {os.path.join(REF, 'mapper.py')}",
        reducer_cmd=f"{sys.executable} {os.path.join(REF, 'reducer.py')}",
        num_reducers=3,
    )
    got = sorted(r["value"] for r in out.collect() if r["value"].strip())
    assert got == _golden_lines()


@needs_reference
def test_inprocess_matches_reference_golden(spark):
    """The in-process fast path computes the same result with Python
    callables implementing the same contract (no subprocess pipes)."""

    def mapper(line: str):
        data = line.strip().split("\t")
        if len(data) == 6:
            yield f"{data[2]},{data[4]}"

    def reducer(key: str, values):
        best = 0.0
        for v in values:
            if float(v) > best:
                best = float(v)
        yield f"{key},{best}"

    out = run_inprocess(
        spark,
        input_path=os.path.join(REF, "data.txt"),
        mapper=mapper,
        reducer=reducer,
        num_reducers=3,
    )
    got = sorted(r["value"] for r in out.collect() if r["value"].strip())
    assert got == _golden_lines()


def test_wordcount_roundtrip(spark, tmp_path):
    """Generic contract on fresh data: wordcount via the in-process
    surface, output written as text part files (F10) and read back."""
    src = tmp_path / "input.txt"
    src.write_text("a b a\nc b a\n")

    def mapper(line: str):
        for tok in line.split():
            yield f"{tok},1"

    def reducer(key: str, values):
        yield f"{key},{sum(int(v) for v in values)}"

    out_dir = str(tmp_path / "out")
    out = run_inprocess(
        spark, str(src), mapper, reducer, num_reducers=2, output_path=out_dir
    )
    got = dict(line.split(",") for line in (r["value"] for r in out.collect()))
    assert got == {"a": "3", "b": "2", "c": "1"}
    # part files exist and round-trip
    back = spark.read.text(out_dir)
    assert back.count() == 3


@needs_reference
def test_cli_mr_reproduces_reference_golden(spark, tmp_path):
    """The `python -m yet_another_map_reduce_spark -mr` facade (the
    reference client's third verb, Client/client.py:47-71,126) runs the
    verbatim reference mapper/reducer over the reference's data.txt and
    reproduces the committed golden output through the CLI path."""
    from yet_another_map_reduce_spark.__main__ import main

    out_dir = str(tmp_path / "mr_out")
    rc = main(
        [
            "-mr",
            os.path.join(REF, "data.txt"),
            os.path.join(REF, "mapper.py"),
            os.path.join(REF, "reducer.py"),
            "--reducers",
            "3",
            "--output",
            out_dir,
        ],
        spark=spark,
    )
    assert rc == 0
    got = sorted(
        line.rstrip("\n")
        for f in os.listdir(out_dir)
        if f.startswith("part-")
        for line in open(os.path.join(out_dir, f))
        if line.strip()
    )
    assert got == _golden_lines()


def test_cli_write_then_read_roundtrip(spark, tmp_path, capsys):
    """-w registers the file under its stem; -r resolves (bare filename
    accepted, like the reference's filename.split('.')[0]), merges,
    SORTS, and prints — the reference read contract."""
    from yet_another_map_reduce_spark.__main__ import main

    src = tmp_path / "greet.txt"
    src.write_text("b,2\na,1\nc,3\n")
    cat = str(tmp_path / "cat")
    assert main(["--catalog", cat, "-w", str(src)], spark=spark) == 0
    out_file = tmp_path / "merged.txt"
    assert (
        main(
            ["--catalog", cat, "-r", "greet.txt", "--out", str(out_file)],
            spark=spark,
        )
        == 0
    )
    printed = capsys.readouterr().out
    assert "a,1\nb,2\nc,3" in printed
    assert out_file.read_text() == "a,1\nb,2\nc,3\n"


def test_cli_write_missing_file_errors(spark, tmp_path):
    from yet_another_map_reduce_spark.__main__ import main

    rc = main(
        ["--catalog", str(tmp_path / "cat"), "-w", str(tmp_path / "nope.txt")],
        spark=spark,
    )
    assert rc == 2


def test_cli_read_unknown_dataset_errors_cleanly(spark, tmp_path, capsys):
    from yet_another_map_reduce_spark.__main__ import main

    rc = main(["--catalog", str(tmp_path / "cat"), "-r", "nosuch.txt"], spark=spark)
    assert rc == 2
    assert "not found" in capsys.readouterr().err


# --- streaming contract without the reference repo -----------------------

# One source for both sides of the byte-exact checks: written into the
# mapper/reducer scripts and exec'd for the pure-Python expectation.
_PROGRAMS = """
import sys
from itertools import groupby


def map_line(line):
    key = line.split("\\t")[0].split(",")[0]
    yield f"{key},{line}"
    yield f"len{len(line)},{line}"


def reduce_key(key, values):
    values = list(values)
    yield f"{key}\\t{len(values)}"
    yield from values


def _lines():
    for raw in sys.stdin.buffer:
        yield raw.decode("utf-8").removesuffix("\\n")


def _emit(lines):
    for line in lines:
        sys.stdout.buffer.write(line.encode("utf-8") + b"\\n")


def mapper_main():
    for line in _lines():
        _emit(map_line(line))


def reducer_main():
    pairs = (line.split(",", 1) for line in _lines())
    for key, group in groupby(pairs, key=lambda kv: kv[0]):
        _emit(reduce_key(key, (v for _, v in group)))
"""

# tabs, a literal \N line, an empty line, an empty value, leading and
# trailing spaces, 4-byte UTF-8
_TRICKY_LINES = [
    "a\tb\tc",
    "a,1",
    "\\N",
    "",
    "b,",
    "  lead,x  ",
    "  lead\t",
    "é€😀,z",
    "😀\t\\N",
    "b,2",
]


def _programs(tmp_path):
    """mapper.py/reducer.py in a directory whose name needs quoting, the
    pure-Python (map, reduce) pair, and the input file."""
    d = tmp_path / "prog dir 'q' {x}"
    d.mkdir()
    for name in ("mapper", "reducer"):
        (d / f"{name}.py").write_text(
            _PROGRAMS + f"\n\nif __name__ == '__main__':\n    {name}_main()\n"
        )
    ns: dict = {"__name__": "mr_programs"}
    exec(_PROGRAMS, ns)
    src = tmp_path / "in.txt"
    src.write_text("".join(line + "\n" for line in _TRICKY_LINES), encoding="utf-8")
    return d, ns["map_line"], ns["reduce_key"], str(src)


def _expected(map_line, reduce_key) -> list[str]:
    """map, group by the text before the first comma, sort each group's
    lines, reduce."""
    groups: dict[str, list[str]] = {}
    for line in _TRICKY_LINES:
        for out in map_line(line):
            groups.setdefault(out.split(",", 1)[0], []).append(out)
    return sorted(
        out
        for key, lines in groups.items()
        for out in reduce_key(key, (x.split(",", 1)[1] for x in sorted(lines)))
    )


def _cmd(path) -> str:
    return f"{shlex.quote(sys.executable)} {shlex.quote(str(path))}"


@pytest.fixture(params=["true", "false"], ids=["aqe", "no_aqe"])
def aqe(spark, request):
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.adaptive.enabled", before)


@pytest.mark.parametrize("num_reducers", [1, 3])
def test_streaming_job_byte_exact_without_reference(spark, tmp_path, aqe, num_reducers):
    """External programs in a quoted path over tabs, \\N, empty lines,
    edge spaces and 4-byte UTF-8 give exactly the pure-Python
    map → group → sort → reduce lines, under any reducer count and AQE
    setting; run_inprocess gives the same lines from the same functions."""
    d, map_line, reduce_key, src = _programs(tmp_path)
    want = _expected(map_line, reduce_key)
    assert "\\N" in want and "" in want  # the NULL-marker and empty lines
    out = run_streaming_job(
        spark, src, _cmd(d / "mapper.py"), _cmd(d / "reducer.py"), num_reducers
    )
    assert sorted(r["value"] for r in out.collect()) == want
    out = run_inprocess(spark, src, map_line, reduce_key, num_reducers)
    assert sorted(r["value"] for r in out.collect()) == want


def test_cli_mr_byte_exact_without_reference(spark, tmp_path):
    """-mr quotes the program paths for bash -c: the same byte-exact
    result through the CLI, from a directory named with a space and '."""
    from yet_another_map_reduce_spark.__main__ import main

    d, map_line, reduce_key, src = _programs(tmp_path)
    out_dir = tmp_path / "mr out"
    argv = ["-mr", src, str(d / "mapper.py"), str(d / "reducer.py")]
    assert main(argv + ["--output", str(out_dir)], spark=spark) == 0
    got = []
    for f in sorted(os.listdir(out_dir)):
        if f.startswith("part-"):
            got += (out_dir / f).read_text(encoding="utf-8").split("\n")[:-1]
    assert sorted(got) == _expected(map_line, reduce_key)


def test_empty_map_output_gives_empty_result(spark, tmp_path):
    """A mapper that emits nothing gives an empty ``value string``
    DataFrame from both verbs, and an empty readable text directory."""
    src = tmp_path / "in.txt"
    src.write_text("a,1\nb,2\n")
    verbs = {
        "streaming": lambda out: run_streaming_job(
            spark, str(src), "cat > /dev/null", "cat", 3, output_path=out
        ),
        "inprocess": lambda out: run_inprocess(
            spark, str(src), lambda line: [], lambda k, vs: vs, 3, output_path=out
        ),
    }
    for name, verb in verbs.items():
        df = verb(None)
        assert df.schema.simpleString() == "struct<value:string>", name
        assert df.collect() == [], name
        out_dir = str(tmp_path / f"out_{name}")
        verb(out_dir)
        assert spark.read.text(out_dir).collect() == [], name


def test_reducer_is_not_started_on_an_empty_partition(spark, tmp_path):
    """One key over three reducer partitions: a reducer that prints on
    empty stdin runs once, not once per partition."""
    src = tmp_path / "in.txt"
    src.write_text("k,1\nk,2\n")
    out = run_streaming_job(spark, str(src), "cat", "cat > /dev/null; echo done", 3)
    assert [r["value"] for r in out.collect()] == ["done"]


@pytest.mark.parametrize("stage", ["mapper", "reducer"])
def test_failing_program_fails_the_job(spark, tmp_path, stage):
    """A program that echoes its input and exits 3 raises from the action
    instead of returning its partial output."""
    src = tmp_path / "in.txt"
    src.write_text("".join(f"k{i},{i}\n" for i in range(6)))
    cmds = {"mapper": "cat", "reducer": "cat", stage: "cat; exit 3"}
    out = run_streaming_job(spark, str(src), cmds["mapper"], cmds["reducer"], 2)
    with pytest.raises(Exception, match="Subprocess exited with status 3"):
        out.collect()


def test_streaming_commands_run_under_bash(spark, tmp_path):
    """Commands are bash -c scripts: pipes and bash variables work."""
    src = tmp_path / "in.txt"
    src.write_text("k,a\n")
    mapper = "tr a-z A-Z; echo \"k,${BASH_VERSION:+bash}\""
    out = run_streaming_job(spark, str(src), mapper, "cat", 1)
    assert sorted(r["value"] for r in out.collect()) == ["K,A", "k,bash"]


def test_bare_cr_in_program_output_splits_the_line(spark, tmp_path):
    """A bare \\r in a program's output line ends that line, as Hadoop
    Streaming's LineReader does."""
    src = tmp_path / "in.txt"
    src.write_text("x\n")
    out = run_streaming_job(
        spark, str(src), "cat > /dev/null; printf 'k,a\\rb\\n'", "cat", 1
    )
    assert sorted(r["value"] for r in out.collect()) == ["b", "k,a"]


def test_keys_are_placed_by_murmur3(spark, tmp_path):
    """Every reduced line sits in partition pmod(hash(key), W): Spark's
    Murmur3 placement of the text before the first comma."""
    src = tmp_path / "in.txt"
    src.write_text("".join(f"key{i % 7},{i}\n" for i in range(40)))
    out = run_streaming_job(spark, str(src), "cat", "cat", 3)
    key = F.substring_index("value", ",", 1)
    rows = out.select(
        F.spark_partition_id().alias("got"),
        F.pmod(F.hash(key), F.lit(3)).alias("want"),
    ).collect()
    assert len(rows) == 40
    assert all(r["got"] == r["want"] for r in rows)
    assert len({r["got"] for r in rows}) > 1


def test_verbs_start_no_job_before_the_action(spark, tmp_path):
    """With output_path=None neither verb runs a Spark job: its plan runs
    once, at the caller's action."""
    sc = spark.sparkContext
    src = tmp_path / "in.txt"
    src.write_text("a,1\nb,2\na,3\n")
    verbs = {
        "streaming": lambda: run_streaming_job(spark, str(src), "cat", "cat", 2),
        "inprocess": lambda: run_inprocess(
            spark, str(src), lambda line: [line], lambda k, vs: [k], 2
        ),
    }

    def jobs(group):
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    for name, verb in verbs.items():
        group = f"mapreduce-lazy-{name}"
        sc.setJobGroup(group, name)
        try:
            df = verb()
            assert jobs(group) == [], name
            df.collect()
            assert jobs(group), name
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
