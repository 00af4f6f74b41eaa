"""The benchmark's workloads and the ops they run.

An op is one user-visible unit of work, timed as a whole and split into
three phases for the traced run: ``build`` (Python-side construction,
including any Spark jobs it runs eagerly), ``plan`` (Catalyst planning
of the DataFrame ``plan_target`` returns, traced run only) and ``exec``
(the action that produces the result).  Every op checks its own output
after the timed passes and can plant a wrong answer for the self-test.

Workloads (see ``WORKLOADS``):

- ``registry``: registered queries (star-schema joins and corpus
  curation) over the repo's sf0.01 test tables (``data/``), each
  checked against its DuckDB oracle: Spark-driver-side reading, plan
  building, Catalyst and short executions.
- ``yamr_verbs``: the paper's WRITE, READ and MAP-REDUCE verbs over a
  transactions TSV; no registry query runs.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shlex
import shutil
import sys

import datagen
import mapper
import reducer

#: The registry workload's queries: a subset of the ``tpch_*``/``join_*``
#: and ``dedup_*``/``pipeline_*`` families that keeps a warm pass near
#: six seconds on a 4-core machine, so that a run (set-up, cold pass,
#: three warm passes) fits the benchmark's time budget.  The star queries
#: read 1 to 5 tables each through ``read_table``; the curation queries
#: read one table and spend their time in the dedup, text and classify
#: operators, including classifier training that runs eagerly inside
#: the query function.
REGISTRY = (
    "tpch_q6_revenue",
    "join_semi",
    "join_customer_orders",
    "tpch_q3_shipping",
    "join_revenue_by_nation",
    "dedup_exact",
    "dedup_keep_best",
    "pipeline_autocurate",
)
#: the sf0.01 test tables the registry queries read (FIXTURES.md §3)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: transactions lines for yamr_verbs
TX_LINES = 30000


def _load_check_parity(root: str):
    """The repo's oracle comparison rules (``scripts/check_parity.py``)."""
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(root, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plant_rows(pdf):
    """A wrong answer: the result with its last row dropped (or one
    all-null row added to an empty result)."""
    import pandas as pd

    if len(pdf):
        return pdf.iloc[:-1]
    return pd.concat([pdf, pd.DataFrame([{c: None for c in pdf.columns}])])


class QueryOp:
    """One registry query: build = the query function, exec = toPandas,
    check = the DuckDB oracle twin under check_parity's rules."""

    def __init__(self, name: str, workload: "RegistryWorkload") -> None:
        self.name = name
        self._w = workload
        self._oracle = None

    def build(self, spark):
        from yet_another_map_reduce_spark.queries import QUERIES

        return QUERIES[self.name](spark, self._w.data_dir)

    def plan_target(self, df):
        return df

    def execute(self, df):
        return df.toPandas()

    def check(self, out) -> list[str]:
        if self._oracle is None:
            from yet_another_map_reduce_spark.queries import ORACLES

            self._oracle = self._w.duck().execute(ORACLES[self.name]).fetchdf()
        return self._w.parity.compare(self.name, out, self._oracle)

    plant = staticmethod(_plant_rows)


class RegistryWorkload:
    """Registry queries over the sf0.01 test tables; the seed fixes the
    order of the queries within every pass of the run."""

    def __init__(self, root: str, work: str, seed: int, nproc: int) -> None:
        self.names = list(REGISTRY)
        random.Random(seed).shuffle(self.names)
        self.data_dir = os.path.join(work, "tables")
        self.parity = _load_check_parity(root)
        self._con = None

    def generate(self) -> None:
        # a private copy per run: queries may keep scratch state keyed
        # by the table directory, and the shipped tables stay untouched
        shutil.copytree(DATA_DIR, self.data_dir, dirs_exist_ok=True)

    def prepare(self, spark) -> None:
        pass

    def ops(self) -> list:
        return [QueryOp(n, self) for n in self.names]

    def duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in sorted(f[: -len(".parquet")] for f in os.listdir(self.data_dir)):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


class VerbsWorkload:
    """WRITE, READ and two MAP-REDUCE runs over one seeded TSV, in the
    reference client's order: the READ of a pass checks its WRITE."""

    def __init__(self, root: str, work: str, seed: int, nproc: int) -> None:
        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.tsv = os.path.join(work, "transactions.tsv")
        self.store = os.path.join(work, "store")
        self.expected: dict[str, str] = {}

    def generate(self) -> None:
        self.expected = datagen.write_transactions(self.tsv, self.seed, TX_LINES)

    def prepare(self, spark) -> None:
        from pyspark import cloudpickle

        from yet_another_map_reduce_spark.sources import yamr_format

        yamr_format.register(spark)
        # the in-process job's callables live in this directory, which
        # the Python workers cannot import: ship them by value
        cloudpickle.register_pickle_by_value(mapper)
        cloudpickle.register_pickle_by_value(reducer)

    def ops(self) -> list:
        return [WriteOp(self), ReadOp(self), StreamingMROp(self), InprocessMROp(self)]

    def input_lines(self) -> list[str]:
        with open(self.tsv, encoding="utf-8") as fh:
            return fh.read().splitlines()

    def close(self) -> None:
        pass


class WriteOp:
    name = "yamr_write"

    def __init__(self, w: VerbsWorkload) -> None:
        self._w = w

    def build(self, spark):
        return spark.read.text(self._w.tsv)

    def plan_target(self, df):
        return None

    def execute(self, df):
        from yet_another_map_reduce_spark.sources import yamr_format

        df.write.format("yamr").option("path", self._w.store).option(
            "name", "tx"
        ).mode("overwrite").save()
        return yamr_format.read_manifest(self._w.store, "tx")

    def check(self, entries) -> list[str]:
        errs = []
        for fname, size in entries:
            path = os.path.join(self._w.store, fname)
            if not os.path.exists(path) or os.path.getsize(path) != size:
                errs.append(f"chunk {fname}: missing or not {size} bytes")
        # the input holds no backslash or carriage return, so the
        # escaped chunk lines are byte-for-byte the input lines
        total = sum(size for _, size in entries)
        if total != os.path.getsize(self._w.tsv):
            errs.append(f"chunks hold {total} bytes, input has {os.path.getsize(self._w.tsv)}")
        return errs

    @staticmethod
    def plant(entries):
        return entries[:-1]


class ReadOp:
    name = "yamr_read"

    def __init__(self, w: VerbsWorkload) -> None:
        self._w = w

    def build(self, spark):
        return (
            spark.read.format("yamr")
            .option("path", self._w.store)
            .option("name", "tx")
            .load()
            .select("value")
            .orderBy("value")
        )

    def plan_target(self, df):
        return df

    def execute(self, df):
        return [r[0] for r in df.collect()]

    def check(self, lines) -> list[str]:
        want = sorted(self._w.input_lines())
        if lines != want:
            return [f"read {len(lines)} lines, not the {len(want)} input lines in sorted order"]
        return []

    @staticmethod
    def plant(lines):
        return lines[1:] + lines[:1]


def _check_answer(w: VerbsWorkload, lines) -> list[str]:
    got = sorted(x for x in lines if x.strip())
    want = sorted(w.expected.values())
    if got != want:
        diff = sorted(set(got) ^ set(want))[:3]
        return [f"{len(got)} result lines vs {len(want)} expected; differing: {diff}"]
    return []


class StreamingMROp:
    """run_streaming_job: external mapper/reducer programs over pipes."""

    name = "mr_streaming"

    def __init__(self, w: VerbsWorkload) -> None:
        self._w = w
        here = os.path.dirname(os.path.abspath(__file__))
        self._mapper = shlex.join([sys.executable, os.path.join(here, "mapper.py")])
        self._reducer = shlex.join([sys.executable, os.path.join(here, "reducer.py")])

    def build(self, spark):
        from yet_another_map_reduce_spark.operators import mapreduce

        return mapreduce.run_streaming_job(
            spark, self._w.tsv, self._mapper, self._reducer, self._w.nproc
        )

    def plan_target(self, df):
        return df

    def execute(self, df):
        return [r[0] for r in df.collect()]

    def check(self, lines) -> list[str]:
        return _check_answer(self._w, lines)

    @staticmethod
    def plant(lines):
        return lines[:-1]


class InprocessMROp:
    """run_inprocess: the same job with Python callables, writing part
    files (one output directory per call, read back by the check)."""

    name = "mr_inprocess"

    def __init__(self, w: VerbsWorkload) -> None:
        self._w = w
        self._calls = 0

    def build(self, spark):
        from yet_another_map_reduce_spark.operators import mapreduce

        self._calls += 1
        out_dir = os.path.join(self._w.work, f"mr_out_{self._calls}")
        mapreduce.run_inprocess(
            spark,
            self._w.tsv,
            mapper.map_line,
            reducer.reduce_key,
            self._w.nproc,
            output_path=out_dir,
        )
        return out_dir

    def plan_target(self, out_dir):
        return None

    def execute(self, out_dir):
        return out_dir

    def check(self, out_dir) -> list[str]:
        if not os.path.isdir(out_dir):
            return [f"no output directory {out_dir}"]
        lines = []
        for f in sorted(os.listdir(out_dir)):
            if f.startswith("part-"):
                with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
                    lines += fh.read().splitlines()
        return _check_answer(self._w, lines)

    def plant(self, out_dir):
        return os.path.join(out_dir, "missing")


WORKLOADS = {"registry": RegistryWorkload, "yamr_verbs": VerbsWorkload}
