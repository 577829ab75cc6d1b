"""The reference's three entry-point pipelines (SURVEY.md §3 E1-E3),
rebuilt as declarative ``Pipeline`` specs over the synthetic tables.

Each replica keeps the reference's operator chain but runs it as ONE lazy
Spark plan with gates and persist-aware fan-out, instead of an eager
pandas script:

- E1 crawl   (`Screaming Frog/sf_html_data.py`): scan → DQ gate →
  url_levels → doctype split → website_type CASE → metric fill-cast →
  regex projection → rename → history-append + snapshot-overwrite fan-out.
- E2 ranks   (`Audisto/audisto.py`): distributed paginated ingest →
  header-row strip → float casts → url_levels → crawl_date stamp → append.
- E3 bookings (`Midoco/product_data.py`): staged CSV shape → date parses →
  German-locale decimal parse → lead-time datediff → lenient int cast →
  rename/project → append.

Fixture stand-ins follow FIXTURES.md §B: documents for crawl pages,
a deterministic REST fake for Audisto chunks, orders+lineitem for
bookings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ug_dwh_etl_spark.functions.dates import days_between, stamp_date, to_day
from ug_dwh_etl_spark.functions.numeric import fill_cast, lenient_int, locale_decimal
from ug_dwh_etl_spark.functions.text import bool_label, regex_case, rlike_any
from ug_dwh_etl_spark.functions.urls import with_url_levels
from ug_dwh_etl_spark.plans.pipeline import Gate, Pipeline
from ug_dwh_etl_spark.sinks.writers import append_history, overwrite_snapshot
from ug_dwh_etl_spark.sources.rest import paginated_ingest

# Deterministic page URL built from fixture columns, shared by every
# pipeline and macro query that derives crawl pages from documents.
# split('/') → [https:, '', www.example.com, <lang>, <source>, p<id>]
URL_SPARK = "concat('https://www.example.com/', lang, '/', source, '/p', CAST(doc_id AS STRING))"
# C2: the reference's picture-extension test (`sf_html_data.py:148`,
# `sf_with_backlinkdata.py:79`); rlike_any makes it case-insensitive.
PIC_RE = r"\.(jpg|jpeg|png|gif|webp|svg|bmp|ico)$"


def doc_ext() -> F.Column:
    """The file extension a crawl-page stand-in gets from its doc_id. A
    factory, not a constant: building a Column needs a live
    SparkContext in classic mode, so it must not run at import time."""
    return (
        F.when(F.col("doc_id") % 4 == 0, ".jpg")
        .when(F.col("doc_id") % 4 == 1, ".PNG")
        .when(F.col("doc_id") % 4 == 2, ".html")
        .otherwise(".pdf")
    )


# --- E1: crawl pipeline (sf_html_data.py) -------------------------------------

def e1_transform(docs: DataFrame) -> DataFrame:
    """The sf_html_data chain: derive → split → classify → cast → project
    (`sf_html_data.py:109-173`)."""
    df = docs.withColumn("address", F.concat(F.expr(URL_SPARK), doc_ext()))
    df = with_url_levels(df, "address")
    is_pic = rlike_any("address", [PIC_RE])
    df = df.withColumn("doctype", bool_label(is_pic, "Picture", "HTML"))
    df = df.withColumn(
        "website_type",
        regex_case(
            "source",
            [("^src[0-9]$", "Internal"), ("^src1[0-9]$", "Whitelabel")],
            "External",
        ),
    )
    # C13 intended semantics: null-fill then cast (reference's inplace bug
    # documented at SURVEY.md §2.10 C13).
    metric = F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
        F.col("n_chars").cast("string")
    )
    df = df.withColumn("word_metric", fill_cast(metric))
    return df.select(
        "doc_id",
        "address",
        "root",
        "directory",
        "page_level1",
        "page_level2",
        "page_level3",
        "page_level4",
        "doctype",
        "website_type",
        "word_metric",
    )


def e1_crawl_pipeline(sf_dir: str, out_dir: str | None = None) -> Pipeline:
    sinks = []
    if out_dir:
        sinks = [
            # K3 fan-out: same frame appends to history AND replaces the
            # current snapshot (`sf_html_data.py:176-185`).
            lambda df: append_history(
                df.withColumn("crawl_date", stamp_date()), f"{out_dir}/bq_content_history"
            ),
            lambda df: overwrite_snapshot(df, f"{out_dir}/bq_content"),
        ]
    return Pipeline(
        name="e1_crawl",
        load=lambda spark: spark.read.parquet(f"{sf_dir}/documents.parquet"),
        transform=e1_transform,
        gates=(
            # Q1 shape: the root page must be healthy (reference: root URL
            # status==200 else Teams alert, `sf_html_data.py:95-105`).
            Gate(
                violation=F.col("text").isNull() | (F.length("text") == 0),
                title="crawl dq",
                message="empty document text in crawl input",
            ),
        ),
        sinks=sinks,
    )


# --- E2: paginated-REST ranks pipeline (audisto.py) ---------------------------

E2_TOTAL_ROWS = 1000
E2_CHUNK = 100
_E2_SCHEMA = StructType(
    [
        StructField("Url", StringType()),
        StructField("PageRank", StringType()),
        StructField("CheiRank", StringType()),
    ]
)


def e2_fetch_chunk(offset: int, limit: int) -> pd.DataFrame:
    """Deterministic stand-in for one Audisto API page
    (`Audisto/audisto.py:112-134`): returns CSV-shaped string rows and —
    like the reference's chunk merge — a repeated header row that the
    transform must strip (S7/F2)."""
    rows = [{"Url": "Url", "PageRank": "PageRank", "CheiRank": "CheiRank"}]
    for i in range(offset, min(offset + limit, E2_TOTAL_ROWS)):
        rows.append(
            {
                "Url": f"https://www.example.com/dir{i % 7}/page{i}",
                "PageRank": str((i * 37) % 1000 / 100.0),
                "CheiRank": str((i * 53) % 1000 / 100.0),
            }
        )
    return pd.DataFrame(rows)


def e2_transform(raw: DataFrame) -> DataFrame:
    """audisto.py:140-166 — header strip, float casts, url levels."""
    df = raw.filter(F.col("Url") != "Url")  # F2/S7 header-row strip
    df = df.withColumn("page_rank", F.col("PageRank").cast("double"))
    df = df.withColumn("chei_rank", F.col("CheiRank").cast("double"))
    df = with_url_levels(df, "Url")
    return df.select(
        F.col("Url").alias("address"),
        "page_rank",
        "chei_rank",
        "root",
        "directory",
        "page_level1",
        "page_level2",
    )


def e2_ranks_pipeline(out_dir: str | None = None) -> Pipeline:
    def load(spark: SparkSession) -> DataFrame:
        return paginated_ingest(
            spark,
            total_rows=E2_TOTAL_ROWS,
            chunk_size=E2_CHUNK,
            fetch_chunk=e2_fetch_chunk,
            schema=_E2_SCHEMA,
        )

    sinks = []
    if out_dir:
        sinks = [
            lambda df: append_history(
                df.withColumn("crawl_date", stamp_date()), f"{out_dir}/bq_audisto_ranks"
            )
        ]
    return Pipeline(
        name="e2_ranks",
        load=load,
        transform=e2_transform,
        gates=(
            # Q2 shape: a failed/empty API page would surface as null ranks.
            Gate(
                violation=F.col("page_rank").isNull(),
                title="ranks dq",
                message="unparseable PageRank from API chunk",
            ),
        ),
        sinks=sinks,
    )


# --- E3: bookings pipeline (product_data.py) ----------------------------------

def e3_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bookings stand-in: orders × first lineitem, with the price
    re-encoded as a German-locale string so the pipeline exercises the
    real parse (C10)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_shipdate")
    )
    df = orders.join(li, orders.o_orderkey == li.l_orderkey)
    # '12.345,67' German form from the double price: format with US
    # grouping then swap separators.
    german = F.translate(F.format_number(F.col("o_totalprice"), 2), ",.", ".,")
    return df.select(
        F.col("o_orderkey").alias("buchungsnummer_raw"),
        F.col("o_orderdate").alias("anlagedatum_ts"),
        F.col("l_shipdate").alias("reisebeginn_ts"),
        german.alias("preis_raw"),
        F.col("o_orderpriority").alias("prio_raw"),
        F.col("o_orderstatus").alias("buchungs_status"),
    )


def e3_transform(df: DataFrame) -> DataFrame:
    """product_data.py:60-98 — date parses, locale decimal, lead-time
    datediff, lenient int, rename/project."""
    return df.select(
        lenient_int("buchungsnummer_raw").alias("buchungsnummer"),
        to_day("anlagedatum_ts").alias("anlagedatum"),
        to_day("reisebeginn_ts").alias("reisebeginn"),
        locale_decimal("preis_raw").cast("double").alias("preis"),
        days_between("reisebeginn_ts", "anlagedatum_ts").alias("tage_bis_reisestart"),
        lenient_int(F.regexp_extract("prio_raw", "^([0-9]+)", 1)).alias("personen"),
        "buchungs_status",
    )


def e3_bookings_pipeline(sf_dir: str, out_dir: str | None = None) -> Pipeline:
    sinks = []
    if out_dir:
        sinks = [lambda df: append_history(
            df.withColumn("crawl_date", stamp_date()), f"{out_dir}/bq_bookings", "crawl_date"
        )]
    return Pipeline(
        name="e3_bookings",
        load=lambda spark: e3_load(spark, sf_dir),
        transform=e3_transform,
        gates=(
            Gate(
                violation=F.col("preis").isNull(),
                title="bookings dq",
                message="unparseable German-locale price",
            ),
        ),
        sinks=sinks,
    )
