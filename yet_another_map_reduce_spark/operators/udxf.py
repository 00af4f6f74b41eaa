"""User-defined function surface: scalar / aggregate / table functions.

The reference's core feature is arbitrary user map/reduce programs
(SURVEY.md §2.2: external processes fed by stdin,
``/root/reference/Worker/worker.py:88,193``).  Spark-first, that surface
splits into:

- **pipe programs** → operators/mapreduce.py (Spark SQL ``TRANSFORM``,
  byte-exact compat);
- **scalar UDF** → ``pandas_udf``: Arrow-vectorized batches, never
  row-at-a-time pickling (10-100× difference at scale);
- **grouped UDAF** → ``applyInPandas``: whole key-group as a pandas
  frame — the idiomatic replacement for a streaming reducer;
- **UDTF** → one row in, many rows out — the mapper's general shape
  (Python UDTF, Spark 3.5+).

Each helper is deliberately tiny: the point is the *shape* (batch
signatures, explicit schemas) that keeps Python off the row-at-a-time
path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def discounted_price():
    """Vectorized scalar UDF: net price per line.

    Trivially expressible as a builtin expression — kept as the
    canonical pandas_udf example so the Arrow path is exercised and
    benchmarked; real uses are python-only logic (tokenizers, model
    scoring).  Built lazily: decorating at module import time requires
    an active SparkContext (the return type is parsed via the JVM).
    """

    @pandas_udf("double")
    def _net(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    return _net


def with_discounted_price(df: DataFrame, price_col: str, discount_col: str, alias: str) -> DataFrame:
    return df.withColumn(alias, discounted_price()(F.col(price_col), F.col(discount_col)))


def grouped_weighted_avg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    weight_col: str,
    alias: str = "weighted_avg",
) -> DataFrame:
    """Grouped UDAF via applyInPandas: weighted average per key group.

    The group arrives as one pandas frame (Arrow batch) — the modern
    analog of the reference's sorted-group streaming reducer
    (``/root/reference/reducer.py:16-40``), minus the manual key-change
    bookkeeping.  State stays bounded by group size; Spark spills the
    shuffle, not the UDF.
    """
    key_fields = ", ".join(f"{k} {df.schema[k].dataType.simpleString()}" for k in keys)
    schema = f"{key_fields}, {alias} double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf[weight_col].sum()
        wavg = (pdf[value_col] * pdf[weight_col]).sum() / w if w else float("nan")
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out[alias] = [wavg]
        return pd.DataFrame(out)

    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def token_explode_udtf(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Python UDTF: one document row → one row per token (the mapper's
    general 1→N shape as a first-class SQL-callable function)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="token: string, pos: int")
    class Tokenize:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            if text is None:
                return
            norm = " ".join(text.lower().split())
            for i, tok in enumerate(norm.split(" ")):
                yield tok, i

    # lateral-join style invocation via the DataFrame API
    spark = df.sparkSession
    Tokenize_registered = Tokenize  # keep name for clarity
    spark.udtf.register("yamr_tokenize", Tokenize_registered)
    df.select(F.col(id_col).cast("bigint").alias(id_col), F.col(text_col).alias("__text")).createOrReplaceTempView(
        "yamr_udtf_input"
    )
    return spark.sql(
        f"SELECT t.{id_col}, u.token, u.pos "
        f"FROM yamr_udtf_input t, LATERAL yamr_tokenize(t.{id_col}, t.__text) u"
    )


def mapinpandas_batch_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """mapInPandas pass-through computing per-batch derived columns —
    the partition-streaming shape for python logic that needs no
    grouping (tokenization, parsing, model inference)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[cols].copy()
            out["row_abs_sum"] = b[cols].abs().sum(axis=1)
            yield out

    schema = ", ".join(f"{c} double" for c in cols) + ", row_abs_sum double"
    return df.select(*[F.col(c).cast("double").alias(c) for c in cols]).mapInPandas(fn, schema=schema)


def cogrouped_order_fill(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Cogrouped-map UDF (``groupBy().cogroup().applyInPandas``): both
    relations shuffle once on the order key, then each (order-group,
    lineitem-group) pair lands in ONE Python call as two pandas frames —
    the idiomatic Spark shape for per-key custom merges of two inputs
    (the reference would need two chained MapReduce jobs with a manual
    tag column to co-locate two datasets).

    Computes per-order net revenue + item count; orders with no
    lineitems yield 0/0 (left-join semantics, mirrored by the oracle).
    """

    def fn(key: tuple, o: pd.DataFrame, li: pd.DataFrame) -> pd.DataFrame:
        if not len(o):  # lineitems whose order is filtered out: drop
            return pd.DataFrame(
                {"o_orderkey": [], "o_totalprice": [], "net_fp": [], "n_items": []}
            )
        if len(li):
            # fixed-point: prices/discounts are 2-decimal, so the sum is an
            # exact integer — immune to float accumulation-order diffs
            # between pandas (pairwise) and any SQL engine (sequential)
            ep = (li["l_extendedprice"] * 100).round().astype("int64")
            dp = (li["l_discount"] * 100).round().astype("int64")
            net_fp = int((ep * (100 - dp)).sum())
        else:
            net_fp = 0
        return pd.DataFrame(
            {
                "o_orderkey": [key[0]],
                "o_totalprice": [float(o["o_totalprice"].iloc[0])],
                "net_fp": [net_fp],
                "n_items": [len(li)],
            }
        )

    return (
        orders.select("o_orderkey", "o_totalprice")
        .groupBy("o_orderkey")
        .cogroup(
            lineitem.select("l_orderkey", "l_extendedprice", "l_discount").groupBy(
                "l_orderkey"
            )
        )
        .applyInPandas(
            fn,
            schema="o_orderkey long, o_totalprice double, net_fp long, n_items long",
        )
    )
