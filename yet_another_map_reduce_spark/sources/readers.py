"""Distributed scans (reference F2 "READ" → Spark readers).

The reference's READ verb fetches every partition of a named text file
over HTTP, merges, and globally sorts (``/root/reference/Client/client.py:74-112``).
In Spark the transfer/merge plumbing is the scheduler's job; a scan is a
declarative ``spark.read`` so Catalyst can push filters and prune columns
down to the format (parquet row-group/page pruning at scale).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: Canonical test-table names (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-text scan: one ``value: string`` row per line — the exact
    model of a reference partition file (``Worker/worker.py:85``)."""
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sep: str = ",",
    header: bool = False,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Delimited scan. ``sep='\\t'`` + an explicit schema reproduces the
    reference's implied TSV transactions table (``mapper.py:4-5``) with
    real types instead of opaque lines."""
    reader = spark.read.option("sep", sep).option("header", header).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> tuple[DataFrame, DataFrame]:
    """JSONL ingest with an explicit quarantine split — the web-crawl
    reality at 100 TB: malformed lines and type-drifted fields must
    neither kill the job (FAILFAST) nor silently vanish (DROPMALFORMED);
    they land in a quarantine relation for triage, like the multimodal
    codecs' hostile-blob contract.

    One PERMISSIVE scan with ``columnNameOfCorruptRecord``; returns
    ``(good, quarantined)``:

    - ``good``: rows that parsed fully, exactly the given schema;
    - ``quarantined``: rows Spark flagged (unparseable line OR any
      type-drifted field), as the schema's columns (whatever partially
      parsed, rest NULL) plus ``raw_line`` — the verbatim input text.

    ``schema`` is REQUIRED: inference would scan the corpus twice and
    re-resolve drifted types per run.

    Implementation note: this is a TEXT scan + ``from_json`` with a
    corrupt-record field, NOT ``spark.read.json`` with
    ``columnNameOfCorruptRecord`` — the native reader's internal
    corrupt column carries a planner restriction
    (``UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN``) that
    breaks ``count()``/any fully-pruned plan over the quarantine side;
    a computed struct has no such restriction, parses with the same
    Jackson parser, and keeps both halves lazy single-scan filters —
    no caching, no second pass.
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if "_corrupt_record" in schema.fieldNames():
        raise ValueError("schema must not declare _corrupt_record itself")
    if "raw_line" in schema.fieldNames():
        # the quarantined frame appends a verbatim `raw_line` column; a
        # schema field of the same name would yield a duplicate-named
        # column (AMBIGUOUS_REFERENCE downstream, unreadable parquet)
        raise ValueError("schema must not declare raw_line itself")
    # a NEW StructType — StructType.add mutates in place, which would
    # leak _corrupt_record into the caller's schema object (and into
    # both returned frames' projections)
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = spark.read.text(path).select(
        F.col("value").alias("__raw"),
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("__r"),
    )
    # getField, not F.col(f"__r.{name}"): a dotted (or backticked) JSON
    # key — routine in web-crawl JSONL — parses as a nested path in the
    # string form and fails with FIELD_NOT_FOUND
    is_bad = (
        F.col("__r").isNull()
        | F.col("__r").getField("_corrupt_record").isNotNull()
    )
    good = parsed.where(~is_bad).select(
        *[F.col("__r").getField(f.name).alias(f.name) for f in schema.fields]
    )
    quarantined = parsed.where(is_bad).select(
        *[F.col("__r").getField(f.name).alias(f.name) for f in schema.fields],
        F.col("__raw").alias("raw_line"),
    )
    return good, quarantined


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan — same pushdown/pruning properties as parquet
    (stripe-level predicate pushdown via ORC statistics)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: StructType | str | None = None,
) -> DataFrame:
    """XML scan via Spark 4's built-in xml source (one row per
    ``row_tag`` element; schema inferred unless given).  Row-level
    parallelism like any file source — the split unit is the file, so
    many medium files beat one giant document at scale."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def _footer_schema(path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, derived from
    ONE parquet footer with pyarrow so the scan can declare it.

    Spark-written files carry their exact Spark schema in the footer
    (``org.apache.spark.sql.parquet.row.metadata``), which Spark's own
    inference prefers; it is used as is (this is also what keeps a
    Spark-written INT96 timestamp a TIMESTAMP).  Other writers' columns
    map through ``from_arrow_type``: timestamp-without-tz is
    TIMESTAMP_NTZ, as Spark infers it, and ``timestamp[ns]`` (INT64
    TIMESTAMP(NANOS), which Spark cannot read as a timestamp) is
    declared ``bigint`` — Spark then reads the raw nanosecond count,
    with no session conf involved.
    """
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import from_arrow_type

    if os.path.isdir(path):
        path = os.path.join(path, min(f for f in os.listdir(path) if f.endswith(".parquet")))
    arrow = papq.read_schema(path)
    spark_json = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if spark_json is not None:
        schema = StructType.fromJson(json.loads(spark_json))
    else:
        schema = StructType(
            [
                StructField(
                    f.name,
                    LongType()
                    if f.type == pa.timestamp("ns")
                    else from_arrow_type(f.type, prefer_timestamp_ntz=True),
                )
                for f in arrow
            ]
        )
    return _nullable(schema)


def _nullable(t: DataType) -> DataType:
    """``t`` nullable at every level, as a file scan's schema always is."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical test table from a scale-factor directory: one
    scan with the footer schema declared (:func:`_footer_schema`).

    ``events.parquet``'s ``ts`` physical type has varied across testdata
    generations (TIMESTAMP(NANOS), plain µs TIMESTAMP without timezone);
    normalize every layout to a session-UTC TIMESTAMP so downstream
    epoch arithmetic (``ts.cast('long')``) and the DuckDB oracles see
    identical wall-clock instants regardless of which generation is on
    disk.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_footer_schema(path)).parquet(path)
    if name != "events":
        return df
    if isinstance(df.schema["ts"].dataType, LongType):
        # exact FLOOR division in bigint: `div` truncates toward zero,
        # which shifts every pre-1970 non-whole-microsecond nanosecond
        # instant +1 µs vs the oracle's floor-based epoch arithmetic;
        # float division would lose precision above 2^53 outright
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
        )
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        # session tz is pinned UTC (session.py), so this reinterprets the
        # stored wall clock as the same UTC instant the nanos path built;
        # NTZ also rejects cast-to-long, which the epoch queries need
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with schema evolution: files written under older
    schemas surface added columns as NULL (``mergeSchema``).

    Scale note: schema merging lists footers across files — cheap next to
    the scan, but on multi-million-file datasets prefer a declared schema
    (``spark.read.schema(...)``) and keep ``mergeSchema`` for ingestion
    boundaries where producers actually evolve.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
