from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from salesforce_prefect_etl_pipeline_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con


def assert_matches_oracle(spark, duck, fn, sql, sf_dir=SF_SMALL):
    """Order-insensitive compare of a Spark query result vs DuckDB oracle."""
    import pandas as pd

    spark_pdf = fn(spark, sf_dir).toPandas()
    oracle_pdf = duck.sql(sql).df()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    assert len(spark_pdf) == len(oracle_pdf)

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
            if df[c].dtype == object:
                df[c] = df[c].apply(
                    lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
                )
        return df.sort_values(by=list(df.columns), ignore_index=True)

    s, o = norm(spark_pdf), norm(oracle_pdf)
    pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)


def batch_totals(docs, analyzer: str = "raw"):
    """Per-batch text-index totals and batch id from one aggregate over
    a second tokenizing scan — the reference the index write path's
    single-scan totals are pinned against."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
        batch_id_col,
    )

    tokenize = retrieval._ANALYZERS[analyzer][0]
    return docs.select("doc_id", F.size(tokenize("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
        batch_id_col("doc_id"),
    )
