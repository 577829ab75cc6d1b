"""The reference's remaining five pipelines (SURVEY.md §2 source scripts
beyond E1-E3), rebuilt as lazy transform chains over the synthetic tables:

- E4 images   (`Screaming Frog/sf_images_data.py:90-171`): union of the
  html-embedded-image inventory and the image-crawl report — mismatched
  schemas aligned by name with NULL fill (U1) — then url levels + project.
- E5 orphans  (`Screaming Frog/sf_orphan_data.py:67-116`): union of the
  GSC and sitemap orphan sources (U2), doctype classification (C2/C3),
  intended-semantics metric fill-cast (C13 — the reference's fillna bug
  lives in this file at :98-105), url levels.
- E6 inlinks  (`Screaming Frog/sf_inlink_bulk_data.py:66-104`): the
  link-graph edge table — Source/Destination URLs, anchor text, the
  Internal/Whitelabel/External regex CASE applied to BOTH endpoints
  (C4 ×2, reference :91-92), url levels on Destination (:71-76).
- E7 backlinks (`Screaming Frog/sf_with_backlinkdata.py:66-87`): per-URL
  backlink metrics (total backlinks + distinct referring domains) with
  the picture/HTML doctype flag (:79-80).
- E8 hreflang (`Screaming Frog/sf_hreflang_data.py:68-88`): hreflang
  issue table — language clusters claiming the same lang twice
  (duplicate-alternate conflicts), grouped + HAVING.

Fixture stand-ins follow FIXTURES.md §B: documents for crawl pages and
image inventories, the lineitem supplier→part relation for the link
graph (same edge material as queries/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.functions.numeric import fill_cast
from ug_dwh_etl_spark.functions.text import bool_label, regex_case, rlike_any
from ug_dwh_etl_spark.functions.urls import with_url_levels
from ug_dwh_etl_spark.plans.reference_pipelines import PIC_RE, URL_SPARK, doc_ext


def _docs_with_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.withColumn("address", F.concat(F.expr(URL_SPARK), doc_ext()))


# --- E4: image inventory (sf_images_data.py) ----------------------------------

def e4_images_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union html-embedded images with the image-crawl report (U1 —
    `sf_images_data.py:149`): schemas differ (source_page/alt_text vs
    status_code/size_bytes); ``unionByName(allowMissingColumns=True)``
    reproduces pandas concat's align-by-name + NaN fill, as NULLs."""
    base = _docs_with_address(spark, sf_dir)
    pics = base.filter(rlike_any("address", [PIC_RE]))
    html_images = pics.filter(F.col("doc_id") % 2 == 0).select(
        "address",
        F.concat(
            F.lit("https://www.example.com/"), "lang", F.lit("/"), "source", F.lit("/index.html")
        ).alias("source_page"),
        F.concat(F.lit("img-"), F.col("doc_id").cast("string")).alias("alt_text"),
    )
    crawl_images = pics.filter(F.col("doc_id") % 3 == 0).select(
        "address",
        F.when(F.col("doc_id") % 5 == 0, F.lit(404)).otherwise(F.lit(200)).cast("long").alias(
            "status_code"
        ),
        (F.col("n_chars") * 10).cast("long").alias("size_bytes"),
    )
    u = html_images.unionByName(crawl_images, allowMissingColumns=True)
    u = with_url_levels(u, "address")
    return u.select(
        "address", "source_page", "alt_text", "status_code", "size_bytes",
        "root", "directory", "page_level1", "page_level2",
    )


# --- E5: orphan URLs (sf_orphan_data.py) --------------------------------------

def e5_orphan_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union the GSC orphan source (metrics arrive as strings with gaps)
    with the sitemap orphan source (address only), then classify and
    fill-cast (U2 + C13 intended semantics — the fillna bug is in this
    reference file, `sf_orphan_data.py:98-105`)."""
    base = _docs_with_address(spark, sf_dir)
    gsc = base.filter(F.col("doc_id") % 2 == 0).select(
        "address",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None))
        .otherwise((F.col("n_chars") % 97).cast("string"))
        .alias("clicks_raw"),
        (F.col("n_chars") % 997).cast("string").alias("impressions_raw"),
    )
    sitemap = base.filter(F.col("doc_id") % 3 == 0).select("address")
    u = gsc.unionByName(sitemap, allowMissingColumns=True)
    u = u.withColumns(
        {
            "clicks": fill_cast("clicks_raw"),
            "impressions": fill_cast("impressions_raw"),
            "doctype": bool_label(rlike_any("address", [PIC_RE]), "Picture", "HTML"),
        }
    )
    u = with_url_levels(u, "address")
    return u.select("address", "doctype", "clicks", "impressions", "root", "directory")


# --- E6: inlinks edge table (sf_inlink_bulk_data.py) --------------------------

def _host(key: str) -> F.Column:
    return (
        F.when(F.col(key) % 3 == 0, "www.example.com")
        .when(F.col(key) % 3 == 1, "partner.example.com")
        .otherwise("other-site.net")
    )
# C4 applied to both endpoints (`sf_inlink_bulk_data.py:91-92`)
_WEBSITE_TYPE = [
    (r"^https://www\.example\.com/", "Internal"),
    (r"^https://partner\.example\.com/", "Whitelabel"),
]


def _edge_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select("l_suppkey", "l_partkey")
        .distinct()
        .select(
            "l_partkey",
            F.concat(
                F.lit("https://"), _host("l_suppkey"), F.lit("/supplier/s"),
                F.col("l_suppkey").cast("string"),
            ).alias("source"),
            F.concat(
                F.lit("https://"), _host("l_partkey"), F.lit("/part/p"),
                F.col("l_partkey").cast("string"),
            ).alias("destination"),
        )
    )


def e6_inlinks_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link-graph edge table: (source, destination, anchor) with the
    endpoint classification CASEs and destination url levels
    (`sf_inlink_bulk_data.py:66-104`). Anchor text comes from the part
    dimension — a key-shuffled join (part scales with the fact table, so
    it is NOT broadcast; AQE may still demote at test scale)."""
    edges = _edge_urls(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", F.col("p_name").alias("anchor"))
    df = edges.join(part, edges.l_partkey == part.p_partkey).drop("l_partkey", "p_partkey")
    df = df.withColumns(
        {
            "website_type_source": regex_case("source", _WEBSITE_TYPE, "External"),
            "website_type_destination": regex_case("destination", _WEBSITE_TYPE, "External"),
        }
    )
    df = with_url_levels(df, "destination")
    return df.select(
        "source", "destination", "anchor",
        "website_type_source", "website_type_destination",
        "root", "directory", "page_level1", "page_level2",
    )


# --- E7: backlink metrics (sf_with_backlinkdata.py) ---------------------------

def e7_backlink_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL backlink metrics over the same edge relation: total
    backlinks + distinct referring domains, with the picture/HTML flag
    (`sf_with_backlinkdata.py:66-87`). One hash aggregation keyed on the
    destination URL — partial/final agg map-side combines the counts."""
    edges = _edge_urls(spark, sf_dir)
    ref_domain = F.element_at(F.split("source", "/"), 3)
    return (
        edges.groupBy("destination")
        .agg(
            F.count(F.lit(1)).alias("backlinks"),
            F.count_distinct(ref_domain).alias("referring_domains"),
        )
        .withColumn(
            "doctype", bool_label(rlike_any("destination", [PIC_RE]), "Picture", "HTML")
        )
    )


# --- E8: hreflang issues (sf_hreflang_data.py) --------------------------------

def e8_hreflang_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hreflang duplicate-alternate conflicts: translation clusters where
    one language is claimed by more than one page — grouped count +
    HAVING, the issue-table shape the reference passes through
    (`sf_hreflang_data.py:68-88`)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.withColumn("cluster", F.expr("doc_id div 7"))
        .groupBy("cluster", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_pages") > 1)
    )
