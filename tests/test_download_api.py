"""S1/S2 acquisition operators + the MCP-shaped API facade (R1/Q7-Q9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_spark.api import search_newsletter
from vector_search_spark.encoders import EMBEDDING_DIM, HashEncoder
from vector_search_spark.operators.download import (
    fetch_throttled,
    incremental_urls,
    parse_sitemap_xml,
)
from vector_search_spark.plans.ingest import ingest_markdown_dir

SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://jamesclear.com/3-2-1/march-5-2020</loc></url>
  <url><loc>https://jamesclear.com/3-2-1/january-30-2020</loc></url>
  <url><loc>https://jamesclear.com/about</loc></url>
</urlset>"""


def test_sitemap_xpath_parse(spark):
    xml_df = spark.createDataFrame([(SITEMAP,)], "xml string")
    urls = {r["url"] for r in parse_sitemap_xml(spark, xml_df).collect()}
    assert urls == {
        "https://jamesclear.com/3-2-1/march-5-2020",
        "https://jamesclear.com/3-2-1/january-30-2020",
        "https://jamesclear.com/about",
    }


def test_incremental_anti_join(spark):
    urls = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    done = spark.createDataFrame([("b",)], "url string")
    left = {r["url"] for r in incremental_urls(urls, done).collect()}
    assert left == {"a", "c"}


def test_fetch_throttled_with_injected_fetcher(spark):
    urls = spark.createDataFrame([("u1",), ("u2",), ("bad",)], "url string").repartition(1)

    def fetcher(url: str) -> bytes:
        if url == "bad":
            raise IOError("boom")
        return (url * 3).encode()

    rows = {r["url"]: (r["n_bytes"], r["ok"]) for r in
            fetch_throttled(urls, fetcher, min_delay_sec=0.0, jitter_sec=0.0).collect()}
    assert rows == {"u1": (6, True), "u2": (6, True), "bad": (0, False)}


def test_api_response_shape(spark, issue_dir):
    index = ingest_markdown_dir(spark, issue_dir)
    qvec = HashEncoder(dim=EMBEDDING_DIM).encode_one("identity habits")
    out = search_newsletter(index, qvec, "identity habits", min_score=-99, limit=3)
    assert set(out) == {"query", "filters", "total_results", "results"}
    assert out["total_results"] == len(out["results"]) == 3
    r = out["results"][0]
    assert set(r) == {"title", "date", "category", "url", "text", "snippet", "score"}
    assert len(r["snippet"]) <= 53  # 50 + "..."
    scores = [x["score"] for x in out["results"]]
    assert scores == sorted(scores, reverse=True)


def test_api_empty_and_invalid(spark, issue_dir):
    index = ingest_markdown_dir(spark, issue_dir)
    qvec = HashEncoder(dim=EMBEDDING_DIM).encode_one("q")
    empty = search_newsletter(index, qvec, "q", min_score=999.0)
    assert empty["total_results"] == 0 and empty["results"] == []
    bad = search_newsletter(index, qvec, "q", from_date="2024-13-99")
    assert "error" in bad and "from_date" in bad["error"]
