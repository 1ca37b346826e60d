"""Chunker tests: shape checks on the chunker golden's 20 generated issues,
and golden counts of the bundled reference corpus when it is present.

Ground truth for the corpus, measured by running the reference's own
parse_newsletter over its 331 bundled markdown files (SURVEY.md §5/§6,
BASELINE.md): 1,944 chunks = 976 idea + 642 quote + 326 question; 4 files
yield 0 chunks; text lengths 13–2,901 chars, median 241.5 (SURVEY rounds
to 241).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from conftest import write_golden_issues
from vector_search_spark.operators.chunker import parse_newsletter_chunks
from vector_search_spark.plans.ingest import build_chunks
from vector_search_spark.sources.files import read_markdown_dir

MD_DIR = "/root/reference/data/raw/md"
GOLDEN = {"idea": 976, "quote": 642, "question": 326}

needs_corpus = pytest.mark.skipif(
    not os.path.isdir(MD_DIR), reason="reference corpus not present"
)


@pytest.fixture(scope="module")
def corpus_chunks(spark):
    return build_chunks(read_markdown_dir(spark, MD_DIR)).cache()


@pytest.fixture(scope="module")
def chunks(spark, tmp_path_factory):
    """Chunks of the chunker golden's 20 generated issues."""
    md = write_golden_issues(tmp_path_factory.mktemp("issues"))
    return build_chunks(read_markdown_dir(spark, md)).cache()


@needs_corpus
def test_corpus_file_count(spark):
    assert read_markdown_dir(spark, MD_DIR).count() == 331


@needs_corpus
def test_golden_category_counts(corpus_chunks):
    counts = {
        r["category"]: r["n"]
        for r in corpus_chunks.groupBy("category").agg(F.count("*").alias("n")).collect()
    }
    assert counts == GOLDEN, counts
    assert sum(counts.values()) == 1944


@needs_corpus
def test_golden_zero_chunk_files(spark, corpus_chunks):
    docs = read_markdown_dir(spark, MD_DIR).select("path")
    with_chunks = corpus_chunks.select("path").distinct()
    zero = docs.join(with_chunks, "path", "left_anti").count()
    assert zero == 4


@needs_corpus
def test_golden_text_lengths(corpus_chunks):
    row = corpus_chunks.agg(
        F.min(F.length("text")).alias("mn"),
        F.max(F.length("text")).alias("mx"),
        F.median(F.length("text")).alias("md"),
    ).collect()[0]
    assert row["mn"] == 13 and row["mx"] == 2901, (row["mn"], row["mx"])
    assert row["md"] == 241.5, row["md"]


def test_quote_fields(chunks):
    quotes = chunks.filter(F.col("category") == "quote")
    n_with_source = quotes.filter(F.col("source").isNotNull()).count()
    n_named = quotes.filter(F.col("source_name").isNotNull()).count()
    # linked sources are a subset of named sources
    assert 0 < n_with_source <= n_named <= quotes.count()
    # prefix applied exactly when a non-empty source_name exists
    bad = quotes.filter(
        (F.col("source_name").isNotNull() & (F.col("source_name") != ""))
        != F.col("text").startswith("Quote from ")
    ).count()
    assert bad == 0


def test_idea_prefix_and_index(chunks):
    ideas = chunks.filter(F.col("category") == "idea")
    assert ideas.filter(~F.col("text").startswith("Idea from James Clear: ")).count() == 0
    per_doc = ideas.groupBy("path").agg(
        F.min("index").alias("mn"), F.max("index").alias("mx"), F.count("*").alias("n")
    )
    assert per_doc.filter((F.col("mn") != 1) | (F.col("mx") != F.col("n"))).count() == 0


def test_title_url_enrichment(chunks):
    row = chunks.filter(F.col("date") == "2019-01-08").select("title", "url").first()
    assert row["url"] == "https://jamesclear.com/3-2-1/january-8-2019"
    assert row["title"] and row["title"] != ""


def test_chunk_ids_deterministic_and_unique(chunks):
    n = chunks.count()
    assert chunks.select("chunk_id").distinct().count() == n


def test_synthetic_edge_cases(spark):
    """FIXTURES.md §1 edge cases: case-variant headers dropped, missing
    source line, text-only source, roman tokens in prose, --- separators,
    share-lines."""
    md = """# T

[Share this on Twitter](http://x.com)

## 3 Ideas From Me

I. lowercase header variant — must be DROPPED

## 3 IDEAS FROM ME

I. First idea with IV. roman inside prose

II. Second idea

---

## 2 QUOTES FROM OTHERS

I. Writer Anne said:

"Quoted text."

*Source:* [Bird by Bird](http://example.com/bird)

II. Unsourced quote text

## 1 QUESTION FOR YOU

What would you do?

Until next week,

James
"""
    df = spark.createDataFrame([("p", md, "2024-01-01")], "path string, content string, date string")
    out = parse_newsletter_chunks(df).collect()
    by_cat = {}
    for r in out:
        by_cat.setdefault(r["category"], []).append(r)
    # case-variant section dropped; prose "IV." splits the first idea (bug-for-bug)
    assert len(by_cat["idea"]) == 3
    assert by_cat["idea"][0]["text"] == "Idea from James Clear: First idea with"
    assert by_cat["idea"][1]["text"] == "Idea from James Clear: roman inside prose"
    assert len(by_cat["quote"]) == 2
    q1, q2 = by_cat["quote"]
    assert q1["source_name"] == "Bird by Bird" and q1["source"] == "http://example.com/bird"
    assert q1["text"].startswith('Quote from Bird by Bird: Writer Anne said:')
    assert q2["source_name"] is None and q2["source"] is None
    assert not q2["text"].startswith("Quote from")
    assert len(by_cat["question"]) == 1
    assert by_cat["question"][0]["text"] == "What would you do?"
