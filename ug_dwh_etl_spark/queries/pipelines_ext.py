"""Pipeline queries for the reference's remaining five scripts (E4-E8),
each paired with an exact DuckDB oracle. With E1-E3 (pipelines.py) this
makes the reference's full 8-script surface replicated end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ug_dwh_etl_spark.plans.reference_pipelines_ext import (
    e4_images_inventory,
    e5_orphan_urls,
    e6_inlinks_edges,
    e7_backlink_metrics,
    e8_hreflang_issues,
)
from ug_dwh_etl_spark.queries.macros import URL_DUCK
from ug_dwh_etl_spark.queries.registry import register

_EXT_DUCK = (
    "CASE doc_id % 4 WHEN 0 THEN '.jpg' WHEN 1 THEN '.PNG' WHEN 2 THEN '.html' ELSE '.pdf' END"
)
_PIC_DUCK = r"(?i)\.(jpg|jpeg|png|gif|webp|svg|bmp|ico)$"

_SRC_HOST_DUCK = """CASE l_suppkey % 3 WHEN 0 THEN 'www.example.com'
                    WHEN 1 THEN 'partner.example.com' ELSE 'other-site.net' END"""
_DST_HOST_DUCK = """CASE l_partkey % 3 WHEN 0 THEN 'www.example.com'
                    WHEN 1 THEN 'partner.example.com' ELSE 'other-site.net' END"""
_WT_DUCK = """CASE WHEN regexp_matches({c}, '^https://www\\.example\\.com/') THEN 'Internal'
                   WHEN regexp_matches({c}, '^https://partner\\.example\\.com/') THEN 'Whitelabel'
                   ELSE 'External' END"""


@register(
    "pipeline_e4_images",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source, n_chars, {URL_DUCK} || {_EXT_DUCK} AS address
      FROM documents),
    pics AS (SELECT * FROM base WHERE regexp_matches(address, '{_PIC_DUCK}')),
    html_images AS (
      SELECT address,
             'https://www.example.com/' || lang || '/' || source || '/index.html' AS source_page,
             'img-' || doc_id::VARCHAR AS alt_text,
             NULL::BIGINT AS status_code, NULL::BIGINT AS size_bytes
      FROM pics WHERE doc_id % 2 = 0),
    crawl_images AS (
      SELECT address, NULL::VARCHAR AS source_page, NULL::VARCHAR AS alt_text,
             (CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END)::BIGINT AS status_code,
             (n_chars * 10)::BIGINT AS size_bytes
      FROM pics WHERE doc_id % 3 = 0),
    u AS (SELECT * FROM html_images UNION ALL SELECT * FROM crawl_images)
    SELECT address, source_page, alt_text, status_code, size_bytes,
           string_split(address, '/')[3] AS root,
           string_split(address, '/')[4] AS directory,
           string_split(address, '/')[5] AS page_level1,
           string_split(address, '/')[6] AS page_level2
    FROM u
    """,
)
def pipeline_e4_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return e4_images_inventory(spark, sf_dir)


@register(
    "pipeline_e5_orphans",
    f"""
    WITH base AS (
      SELECT doc_id, n_chars, {URL_DUCK} || {_EXT_DUCK} AS address
      FROM documents),
    gsc AS (
      SELECT address,
             CASE WHEN doc_id % 5 = 0 THEN NULL ELSE (n_chars % 97)::VARCHAR END AS clicks_raw,
             (n_chars % 997)::VARCHAR AS impressions_raw
      FROM base WHERE doc_id % 2 = 0),
    sitemap AS (
      SELECT address, NULL::VARCHAR AS clicks_raw, NULL::VARCHAR AS impressions_raw
      FROM base WHERE doc_id % 3 = 0),
    u AS (SELECT * FROM gsc UNION ALL SELECT * FROM sitemap)
    SELECT address,
           CASE WHEN regexp_matches(address, '{_PIC_DUCK}') THEN 'Picture' ELSE 'HTML' END
             AS doctype,
           COALESCE(TRY_CAST(clicks_raw AS DOUBLE), 0.0) AS clicks,
           COALESCE(TRY_CAST(impressions_raw AS DOUBLE), 0.0) AS impressions,
           string_split(address, '/')[3] AS root,
           string_split(address, '/')[4] AS directory
    FROM u
    """,
)
def pipeline_e5_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return e5_orphan_urls(spark, sf_dir)


@register(
    "pipeline_e6_inlinks",
    f"""
    WITH edges AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    urls AS (
      SELECT l_partkey,
             'https://' || {_SRC_HOST_DUCK} || '/supplier/s' || l_suppkey::VARCHAR AS source,
             'https://' || {_DST_HOST_DUCK} || '/part/p' || l_partkey::VARCHAR AS destination
      FROM edges)
    SELECT source, destination, p_name AS anchor,
           {_WT_DUCK.format(c="source")} AS website_type_source,
           {_WT_DUCK.format(c="destination")} AS website_type_destination,
           string_split(destination, '/')[3] AS root,
           string_split(destination, '/')[4] AS directory,
           string_split(destination, '/')[5] AS page_level1,
           string_split(destination, '/')[6] AS page_level2
    FROM urls JOIN part ON urls.l_partkey = part.p_partkey
    """,
)
def pipeline_e6_inlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return e6_inlinks_edges(spark, sf_dir)


@register(
    "pipeline_e7_backlinks",
    f"""
    WITH edges AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    urls AS (
      SELECT 'https://' || {_SRC_HOST_DUCK} || '/supplier/s' || l_suppkey::VARCHAR AS source,
             'https://' || {_DST_HOST_DUCK} || '/part/p' || l_partkey::VARCHAR AS destination
      FROM edges)
    SELECT destination,
           COUNT(*)::BIGINT AS backlinks,
           COUNT(DISTINCT string_split(source, '/')[3])::BIGINT AS referring_domains,
           CASE WHEN regexp_matches(destination, '{_PIC_DUCK}') THEN 'Picture' ELSE 'HTML' END
             AS doctype
    FROM urls GROUP BY destination
    """,
)
def pipeline_e7_backlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return e7_backlink_metrics(spark, sf_dir)


@register(
    "pipeline_e8_hreflang",
    """
    SELECT doc_id // 7 AS cluster, lang,
           COUNT(*)::BIGINT AS n_pages,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM documents
    GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)
def pipeline_e8_hreflang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return e8_hreflang_issues(spark, sf_dir)
