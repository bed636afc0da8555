"""UDF registration + SQL text interface.

The reference's whole UDF surface is Java lambdas/rich functions
(SURVEY §2.10); Spark's counterpart is (a) Column expressions — used
everywhere in operators/ — and (b) registered functions callable from
SQL text. This module exposes the engine's custom functions to the SQL
surface so a user can write plain SQL against the registered views.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_anomaly_spark.tables import register_views


def register_builtin_udfs(spark: SparkSession) -> None:
    """Register the engine's custom functions for SQL-text use.

    Kept deliberately small: everything expressible as a built-in
    Column expression stays one (codegen > UDF); only genuinely custom
    computations are registered.

    Once per session: a session that already has
    ``engine_quality_score`` (registered last) keeps its functions, so
    repeated ``sql()`` calls do not re-pickle and replace them.
    """
    if spark.catalog.functionExists("engine_quality_score"):
        return
    from flink_anomaly_spark.operators.dedup import simhash60_pandas

    spark.udf.register("engine_simhash60", simhash60_pandas())

    @F.pandas_udf("double")
    def engine_quality_score(texts: pd.Series) -> pd.Series:
        # vectorized mirror of operators.text.quality_score for SQL use.
        # NULL text → scored like empty; tokenize with ASCII \s+ to match
        # Spark's Java regex (Python str.split is Unicode-whitespace-
        # aware and would diverge on NBSP etc.).
        import re

        ws = re.compile(r"\s+", re.ASCII)
        texts = texts.fillna("")
        toks = texts.map(lambda t: [x for x in ws.split(t) if x])
        n_tok = toks.str.len()
        n_chars = texts.str.len()
        mean_wordlen = n_chars / n_tok.clip(lower=1)
        stop = {"the", "a", "and", "of", "to", "in", "is", "it"}
        stop_hits = toks.apply(lambda ts: len(stop.intersection(ts)))
        len_band = ((n_tok >= 10) & (n_tok <= 1000)).map({True: 1.0, False: 0.3})
        word_band = ((mean_wordlen >= 3.0) & (mean_wordlen <= 10.0)).map({True: 1.0, False: 0.5})
        stop_band = (stop_hits >= 1).map({True: 1.0, False: 0.6})
        return (len_band * 0.4 + word_band * 0.3 + stop_band * 0.3).round(4)

    spark.udf.register("engine_quality_score", engine_quality_score)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """SQL text interface: register the catalog views + engine UDFs,
    then run the query through Catalyst."""
    register_views(spark, sf_dir)
    register_builtin_udfs(spark)
    return spark.sql(query)


def grouped_udaf(df: DataFrame, key: str, fn, output_schema: str) -> DataFrame:
    """UDAF surface: a per-group pandas aggregator (one output row per
    group) via applyInPandas — the PySpark place for custom aggregates
    that aren't algebraic compositions of built-ins.

    ``fn(key_tuple, pdf) -> single-row pd.DataFrame``. Every parameter
    of the wrapper is annotated so pyspark infers the grouped-map eval
    type from the hints instead of warning that it cannot.
    """

    def wrapper(key_tuple: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return fn(key_tuple, pdf)

    return df.groupBy(key).applyInPandas(wrapper, output_schema)


def register_udtfs(spark: SparkSession) -> None:
    """UDTF surface (Spark 4 Python UDTFs): table functions callable
    from SQL with LATERAL join syntax."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="ngram string, pos int")
    class ExplodeNgrams:
        def eval(self, text: str, n: int):
            toks = [t for t in (text or "").split() if t]
            if len(toks) < n:
                yield (" ".join(toks), 0)
                return
            for i in range(len(toks) - n + 1):
                yield (" ".join(toks[i : i + n]), i)

    spark.udtf.register("explode_ngrams", ExplodeNgrams)
