"""The website-ingestor pipeline (reference W) as one lazy plan.

Reference lifecycle (SURVEY.md §3.2): ``scrape_website`` (fetch →
body) → ``create_index`` DDL → ``convert_to_md`` (html2text + header
split + char split + header prepend) → ``ingest`` (embed + ES upsert),
parameterized by WEBSITE_URL / VECTORDB_INDEX
(website-ingestion-pipeline.py:22-49, 102-138, 140-174, 177-198,
249-250).

Here: fetch (injectable) → clean_html → markdown header split (depth 4
per W:147-152) → recursive chunking → content header → embed → upsert
into the collection named by the config — one DataFrame program, the
index DDL being partition lifecycle on the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.embedding import embed_deterministic
from ..functions.html import Fetcher, clean_html, fetch_pages
from ..functions.textops import (
    chunk_recursive,
    content_header,
    normalize_index_name,
    split_markdown_headers,
)
from ..sources.sinks import ParquetVectorStore
from .config import IngestionConfig


def _ingest_pages_plan(cfg: IngestionConfig, pages: DataFrame) -> DataFrame:
    """Shared tail of every ingestion entry point — ``pages`` is any
    (url, html) DataFrame: live-fetched, sitemap-seeded, or WARC
    response records. Single source of truth so the acquisition modes
    cannot diverge (r09 self-review)."""
    docs = clean_html(pages)
    sections = split_markdown_headers(docs, "page_content", max_level=cfg.md_split_depth)
    sec = sections.select(
        "url",
        "title",
        F.posexplode("sections").alias("section_idx", "section_text"),
    )
    chunks = chunk_recursive(
        sec,
        text_col="section_text",
        id_cols=("url", "title", "section_idx"),
        size=cfg.chunk_size,
        overlap=cfg.chunk_overlap,
    )
    enriched = chunks.withColumn(
        "chunk_text",
        content_header(
            F.col("title"),
            F.col("section_idx").cast("string"),
            F.col("chunk_idx").cast("string"),
            F.col("chunk_text"),
        ),
    ).withColumn("index_name", normalize_index_name(F.lit(cfg.index_name)))
    return enriched.withColumn(
        "embedding", embed_deterministic(F.col("chunk_text"), cfg.embed_dim)
    )


def _ingest_urls_plan(cfg: IngestionConfig, urls: DataFrame, fetcher: Fetcher | None) -> DataFrame:
    """Live-fetch front: fetch every url, then the shared tail."""
    return _ingest_pages_plan(cfg, fetch_pages(urls, fetcher=fetcher))


def website_ingestion_from_warc(
    spark: SparkSession,
    cfg: IngestionConfig,
    warc_dir: str,
    glob: str = "*.warc.gz",
) -> DataFrame:
    """The read-the-crawl entry point: WARC shards instead of live
    fetch. ``binaryFile`` scan (one shard = one task) → record
    explode + HTTP decode (sources/warc.py, narrow map) → the same
    clean → header-split → chunk → header-prepend → embed tail as the
    live path. At 100 TB this is the plan that actually runs — the
    live fetcher exists for freshness deltas, the archive path for
    the corpus; both produce identical chunk rows by construction
    (one shared tail)."""
    from ..sources.catalog import read_binary_dir
    from ..sources.warc import warc_records, warc_response_docs

    pages = warc_response_docs(warc_records(read_binary_dir(spark, warc_dir, glob)))
    return _ingest_pages_plan(cfg, pages)


def website_ingestion(
    spark: SparkSession,
    cfg: IngestionConfig,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """Build the lazy website-ingestion plan (no execution)."""
    if not cfg.website_url:
        raise ValueError("cfg.website_url required (WEBSITE_URL env)")
    urls = spark.createDataFrame([(cfg.website_url,)], "url string")
    return _ingest_urls_plan(cfg, urls, fetcher)


def run_website_ingestion(
    spark: SparkSession,
    cfg: IngestionConfig,
    fetcher: Fetcher | None = None,
) -> int:
    """Execute: create the collection, upsert, return chunk count
    (the reference's component sequence W:230-245 as one job; the count
    comes from the written parquet footers)."""
    store = ParquetVectorStore(spark, cfg.store_path)
    normalized = cfg.index_name.lower().replace("-", "_").replace(".", "_")
    store.create_collection(normalized)
    df = website_ingestion(spark, cfg, fetcher)
    store.upsert(df)
    return store.count_collection(normalized)


def sitemap_seeded_urls(
    spark: SparkSession,
    sitemap_url: str,
    fetcher: Fetcher | None = None,
    max_index_depth: int = 2,
) -> DataFrame:
    """S3 seeding for the website ingestor: treat ``sitemap_url`` as a
    sitemap.xml, recurse ``<sitemapindex>`` documents (whose locs are
    FURTHER sitemaps) up to ``max_index_depth`` levels through
    fetch_pages, and return the distinct page-URL frontier — the step
    every real crawl runs before fetching content (the reference
    scrapes a hand-given URL; at corpus scale the list comes from
    sitemaps). Fixed-depth loop: real-world sitemap nesting is one
    index level (the protocol forbids nesting indexes deeper), so the
    bound is a constant, not a convergence test.

    EAGER per level (``localCheckpoint``): the frontier feeds network
    I/O, so lineage truncation is load-bearing, not an optimization —
    lazily composed, the level-N pages branch and the level-N+1 seeds
    branch would each re-execute the level-N fetch (and every
    downstream action would re-fetch the whole seeding chain against
    the live site). Each sitemap is fetched exactly once; duplicate
    locs across sitemaps are deduped before fetching (r09
    self-review, verified with an instrumented fetcher)."""
    from ..functions.html import sitemap_frontier

    if max_index_depth < 1:
        raise ValueError("max_index_depth must be >= 1")
    seeds = spark.createDataFrame([(sitemap_url,)], "url string")
    pages = None
    for _ in range(max_index_depth):
        xml = fetch_pages(seeds, fetcher=fetcher).select(F.col("html").alias("xml"))
        fr = sitemap_frontier(xml).localCheckpoint()
        level_pages = fr.filter(~F.col("is_index")).select("url")
        pages = level_pages if pages is None else pages.unionAll(level_pages)
        seeds = fr.filter(F.col("is_index")).select("url").distinct()
    return pages.distinct()


def website_ingestion_from_sitemap(
    spark: SparkSession,
    cfg: IngestionConfig,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """The full crawl-shaped website plan: ``cfg.website_url`` is a
    sitemap.xml; every frontier page goes through the same fetch →
    clean → header-split → chunk → header-prepend → embed plan as
    ``website_ingestion`` (which takes one page URL directly)."""
    if not cfg.website_url:
        raise ValueError("cfg.website_url required (WEBSITE_URL env)")
    urls = sitemap_seeded_urls(spark, cfg.website_url, fetcher)
    return _ingest_urls_plan(cfg, urls, fetcher)
