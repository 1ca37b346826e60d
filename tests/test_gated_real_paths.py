"""The import-gated production paths (sentence-transformers embed/rerank,
bs4/markdownify HTML): when the libraries are absent (this container) the
seams must fail loudly with NotImplementedError — never silently fall back
— and when they ARE present the real paths must run end-to-end (these
tests activate automatically in an environment that has them)."""

from __future__ import annotations

import pytest

from vector_search_spark.encoders import (
    SentenceTransformerEncoder,
    cross_encoder_rerank_udf,
)
from vector_search_spark.operators.html import HAVE_HTML_LIBS

try:
    import sentence_transformers  # noqa: F401

    HAVE_ST = True
except ImportError:
    HAVE_ST = False


@pytest.mark.skipif(HAVE_ST, reason="sentence-transformers present: gate open")
def test_st_encoder_raises_cleanly_when_absent():
    with pytest.raises(NotImplementedError, match="sentence-transformers"):
        SentenceTransformerEncoder().udf()
    with pytest.raises(NotImplementedError, match="sentence-transformers"):
        cross_encoder_rerank_udf()


@pytest.mark.skipif(not HAVE_ST, reason="sentence-transformers not installed")
def test_st_encoder_real_path(spark):  # pragma: no cover - lib absent here
    df = spark.createDataFrame([("hello world",), ("spark engine",)], "text string")
    out = df.select(SentenceTransformerEncoder().udf()("text").alias("v")).collect()
    assert len(out) == 2
    for r in out:
        assert len(r["v"]) == 384
        assert abs(sum(x * x for x in r["v"]) - 1.0) < 1e-3  # normalized


@pytest.mark.skipif(not HAVE_HTML_LIBS, reason="bs4/markdownify not installed")
def test_bs4_path_cross_checks_stdlib_converter():  # pragma: no cover - lib absent
    """When the real libraries ARE installed, the original bs4+markdownify
    path must agree byte-for-byte with the stdlib converter on the full
    corpus (the stdlib path is separately golden-tested against the
    reference md files in test_html_md_golden.py)."""
    import pathlib

    from vector_search_spark.operators.html import _convert_bs4
    from vector_search_spark.operators.md_convert import html_page_to_markdown

    html_dir = pathlib.Path("/root/reference/data/raw/html")
    if not html_dir.is_dir():
        pytest.skip("reference corpus absent")
    for f in sorted(html_dir.glob("*.html")):
        html = f.read_text(encoding="utf-8")
        assert _convert_bs4(html) == html_page_to_markdown(html), f.name
