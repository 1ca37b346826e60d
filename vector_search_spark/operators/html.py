"""HTML → title/body → Markdown (reference T4/T5,
`pipeline/markdown_assets.py:66-91`).

HTML parsing has no native Spark expression, so this is one of the
engine's three sanctioned pandas-UDF seams (SURVEY.md §2.6).  Two
equivalent implementations exist:

- the stdlib converter (`operators/md_convert.py`) — golden-verified
  byte-identical to the reference's bs4+markdownify output on ALL 331
  bundled pages (titles AND full markdown bodies,
  `tests/test_html_md_golden.py`); this is the default and needs no
  third-party libraries;
- the original bs4+markdownify path (``_convert_bs4``), not used by the
  UDF; where those libraries are installed it is the reference the stdlib
  converter is cross-checked against (`tests/test_gated_real_paths.py`).

Imports resolve once per Python worker; batches move over Arrow.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .md_convert import html_page_to_markdown

try:  # optional cross-check path (not installed in this container)
    import bs4  # noqa: F401
    import markdownify  # noqa: F401

    HAVE_HTML_LIBS = True
except ImportError:
    HAVE_HTML_LIBS = False

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("markdown", T.StringType()),
    ]
)


def _convert_bs4(html: str) -> tuple[str | None, str | None]:
    """Reference semantics via the actual libraries
    (`markdown_assets.py:66-89`); only reachable when bs4/markdownify are
    installed.  Exists so environments WITH the libraries can cross-check
    ``html_page_to_markdown`` against the original implementation."""
    from bs4 import BeautifulSoup
    from markdownify import markdownify as md

    soup = BeautifulSoup(html, "html.parser")
    title_el = soup.select_one(".page__header h1")
    content_el = soup.select_one("div.page__content")
    if content_el is None:
        return None, None
    title = title_el.get_text(strip=True) if title_el else "Unknown"
    body_md = md(str(content_el), heading_style="ATX")
    return title, f"# {title}\n\n{body_md}"


def html_to_markdown_udf():
    """pandas UDF: html string → struct(title, markdown); imports resolved
    once per worker, Arrow-batched."""
    @F.pandas_udf(_OUT_SCHEMA)
    def conv(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batches:
            out = [html_page_to_markdown(h if h is not None else "") for h in s]
            yield pd.DataFrame(out, columns=["title", "markdown"])

    return conv


def html_docs_to_markdown(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(path, html) → (path, title, markdown); rows without a recognizable
    content div are dropped (reference skips them, `markdown_assets.py:74-77`)."""
    out = df.withColumn("__conv", html_to_markdown_udf()(F.col(html_col)))
    return (
        out.select(
            *[c for c in df.columns if c != html_col],
            F.col("__conv.title").alias("title"),
            F.col("__conv.markdown").alias("markdown"),
        )
        .filter(F.col("markdown").isNotNull())
    )
