"""Scan operators (SURVEY.md §2.1 S1-S2, S5).

The reference infers every schema with ``pd.read_csv(low_memory=False)``;
at 100 TB inference means an extra full pass, so readers here take an
explicit StructType whenever the source is registered, falling back to
header-based inference for ad-hoc files. Name normalization (P7) happens
at this boundary so everything downstream sees warehouse-convention names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ug_dwh_etl_spark.functions.names import normalize_names

TABLE_NAMES = (
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


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    sep: str = ",",
    encoding: str = "UTF-8",
    normalize: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S1/S2 — CSV scan. ``sep=';'`` + latin-1 covers the reference's
    Midoco feed (`Midoco/product_data.py:56`). Explicit schema keeps the
    scan single-pass and the types stable.

    ``mode`` controls malformed-row policy (the reference's inferred
    feeds drift): PERMISSIVE nulls bad fields (add a
    ``_corrupt_record`` StringType field to the schema to capture the
    raw line for quarantine), DROPMALFORMED discards, FAILFAST aborts
    the job at first bad row."""
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("mode", mode)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    return normalize_names(df) if normalize else df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S5 — JSON records source (the reference consumes REST JSON into
    record lists, `Audisto/audisto.py:61-82`)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Load the synthetic star schema from a scale-factor directory."""
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}
