"""Ingestion pipeline tests: sources (S1-S3), html seam (T4/T5), URL table
(T1/T2), index build + partitioned write (E1/S5/S7)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import struct

import pyarrow as pa
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import GOLDEN_ISSUE_CHUNKS
from vector_search_spark.encoders import EMBEDDING_DIM, HashEncoder
from vector_search_spark.operators.html import html_docs_to_markdown
from vector_search_spark.plans.ingest import build_index, ingest_markdown_dir, write_index
from vector_search_spark.sources.files import (
    read_html_dir,
    read_markdown_dir,
    url_table_from_sitemap_urls,
)

MD_DIR = "/root/reference/data/raw/md"

ISSUE_CHUNKS = sum(GOLDEN_ISSUE_CHUNKS.values())  # chunks of ``issue_dir``


def test_url_table_parse_and_sort(spark):
    urls = [
        "https://jamesclear.com/3-2-1/march-5-2020",
        "https://jamesclear.com/3-2-1/january-30-2020",
        "https://jamesclear.com/about",          # dropped: no slug
        "https://jamesclear.com/3-2-1/notamonth-9-2020",  # dropped: bad month
    ]
    rows = url_table_from_sitemap_urls(spark, urls).collect()
    assert [r["date"] for r in rows] == [dt.date(2020, 1, 30), dt.date(2020, 3, 5)]


def _page(title: str, body: str | None) -> str:
    content = f'<div class="page__content"><p>{body}</p></div>' if body else ""
    return (
        '<html><body><header class="page__header">'
        f"<h1>{title}</h1></header>{content}</body></html>"
    )


@pytest.fixture
def html_dir(tmp_path):
    """Three newsletter-shaped pages (one nested, one without a content
    div) and a non-HTML file the reader must skip."""
    root = tmp_path / "html"
    (root / "2019").mkdir(parents=True)
    (root / "a.html").write_text(_page("Issue A", "First idea."), encoding="utf-8")
    (root / "2019" / "b.html").write_text(_page("Issue B", "Second idea."), encoding="utf-8")
    (root / "c.html").write_text(_page("Issue C", None), encoding="utf-8")
    (root / "notes.txt").write_text("not a page", encoding="utf-8")
    return str(root)


def test_html_dir_scan(spark, html_dir):
    df = read_html_dir(spark, html_dir)
    assert df.count() == 3
    assert set(df.columns) == {"path", "length", "content"}


def test_html_to_markdown_plumbing(spark, html_dir):
    """Exercises the pandas-UDF seam: schema and row flow are under test,
    not conversion fidelity (the HTML goldens check that)."""
    html = read_html_dir(spark, html_dir).select(
        "path", F.decode("content", "utf-8").alias("html")
    )
    out = html_docs_to_markdown(html).collect()
    # the page without a content div is dropped
    assert sorted(r["title"] for r in out) == ["Issue A", "Issue B"]
    for r in out:
        assert r["markdown"].startswith(f"# {r['title']}\n\n")


def test_index_build_and_write(spark, issue_dir, tmp_path):
    index = ingest_markdown_dir(spark, issue_dir)
    assert index.schema["embedding"].dataType == T.ArrayType(T.FloatType())
    rows = index.select("text", "embedding").collect()
    assert len(rows) == ISSUE_CHUNKS == 120
    enc = HashEncoder()
    assert all(r["embedding"] == enc.encode_one(r["text"]) for r in rows)
    # unit norm up to the float32 rounding of each component
    norm = index.select(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x).alias("n2")
    )
    assert norm.filter(F.abs(F.col("n2") - 1.0) > 1e-6).count() == 0

    out = str(tmp_path / "index")
    write_index(index, out)
    back = spark.read.parquet(out)
    assert back.count() == ISSUE_CHUNKS
    # partition pruning works on the year column
    pruned = back.filter(F.col("year") == 2019)
    assert pruned.count() == ISSUE_CHUNKS
    assert "PartitionFilters: [isnotnull(year" in pruned._jdf.queryExecution().executedPlan().toString()


def test_index_parquet_stores_float32(spark, issue_dir, tmp_path):
    out = str(tmp_path / "index")
    write_index(build_index(read_markdown_dir(spark, issue_dir)), out)
    table = pads.dataset(out, format="parquet", partitioning="hive").to_table()
    emb = table.schema.field("embedding").type
    assert pa.types.is_list(emb) and emb.value_type == pa.float32()
    lengths = table.column("embedding").combine_chunks().value_lengths().to_pylist()
    assert set(lengths) == {EMBEDDING_DIM}


@pytest.mark.skipif(not os.path.isdir(MD_DIR), reason="reference corpus not present")
def test_corpus_index_chunk_count(spark):
    """The 331-file reference corpus chunks to 1,944 rows."""
    assert ingest_markdown_dir(spark, MD_DIR).count() == 1944


def _float64_reference(text: str, dim: int = EMBEDDING_DIM, seed: str = "vss") -> list[float]:
    """The encoder's formula in float64, one md5 per component."""
    raw = [
        int(hashlib.md5(f"{seed}|{text}|{i}".encode()).hexdigest()[:8], 16) / float(1 << 31) - 1.0
        for i in range(dim)
    ]
    norm2 = 0.0
    for x in raw:
        norm2 += x * x
    norm = math.sqrt(norm2)
    return [x / norm for x in raw]


def _float32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


TEXTS = ["hello world", "", "naïve café — 日本語 ✓", "Idea from James Clear: " + "habit " * 830]


@pytest.mark.parametrize("text", TEXTS, ids=["ascii", "empty", "non_ascii", "5kB"])
def test_encode_one_is_the_float32_rounding_of_the_formula(text):
    ref = _float64_reference(text)
    assert abs(math.sqrt(sum(x * x for x in ref)) - 1.0) < 1e-12
    assert HashEncoder().encode_one(text) == [_float32(x) for x in ref]


def test_encoder_udf_matches_encode_one(spark):
    enc = HashEncoder()
    texts = [*TEXTS, None]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    rows = df.select("i", enc.udf()("text").alias("v")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["v"] == enc.encode_one(texts[r["i"]] or "")
    assert enc.encode_one(None) == enc.encode_one("")


def test_encoder_determinism():
    e = HashEncoder(dim=16)
    a, b = e.encode_one("hello world"), e.encode_one("hello world")
    assert a == b
    assert a == [_float32(x) for x in _float64_reference("hello world", dim=16)]
    assert e.encode_one("other") != a
