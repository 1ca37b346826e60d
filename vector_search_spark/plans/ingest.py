"""Ingestion pipeline (reference SURVEY.md §3.4) as ONE lazy DataFrame chain:

read markdown → chunk (T7) → enrich title/url (T8) → embed (E1) → write the
partitioned parquet index table (S5/S7).  The index stores ``embedding`` as
``array<float>``, 384-d by default (``encoders.EMBEDDING_DIM``): the
reference's ``vector: float[384]``, at half the bytes of doubles in the
write, its shuffle and every scan.

The reference materializes every stage to disk and re-reads it
(`embeddings_assets.py:46-51`, `encode_assets.py:20`, `store_assets.py:23`);
here the only materialization is the final index write.  At 100 TB the
write is partitioned by issue year so date-ranged queries prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..encoders import HashEncoder
from ..operators.chunker import parse_newsletter_chunks, strip_sql
from ..sources.files import read_markdown_dir


def enrich_title_url(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Reference T8 (`embeddings_assets.py:53-62`): title from a leading
    '# ' line (fallback 'Unknown'); url rebuilt as
    https://jamesclear.com/3-2-1/{month-name}-{day}-{year} with a
    NON-zero-padded day (`%-d`); an existing title or url column is
    replaced.  SQL text, like the chunker: a few gateway calls per column
    instead of one per function."""
    first_line = f"substring_index(`{content_col}`, chr(10), 1)"
    title = f"""CASE WHEN startswith({first_line}, '# ')
        THEN {strip_sql(f"replace({first_line}, '# ', '')")} ELSE 'Unknown' END"""
    url = """concat('https://jamesclear.com/3-2-1/', lower(date_format(to_date(date), 'MMMM')), '-',
        CAST(dayofmonth(to_date(date)) AS STRING), '-', CAST(year(to_date(date)) AS STRING))"""
    return docs.withColumns({"title": F.expr(title), "url": F.expr(url)})


def build_chunks(docs: DataFrame) -> DataFrame:
    """documents (path, date, content) → enriched chunk table with
    deterministic content-hash chunk ids (reference uses uuid4,
    `store_assets.py:66` — hashes keep tests reproducible)."""
    enriched = enrich_title_url(docs)
    chunks = parse_newsletter_chunks(enriched, content_col="content", date_col="date")
    return chunks.withColumn(
        "chunk_id",
        F.expr("substring(md5(concat_ws('|', date, category, CAST(index AS STRING), text)), 1, 16)"),
    )


def build_index(
    docs: DataFrame,
    encoder: HashEncoder | None = None,
) -> DataFrame:
    """Full ingest: chunks + unit-norm ``array<float>`` embedding column
    (E1), ``HashEncoder()`` (384-d) when ``encoder`` is None.

    The encoder UDF is Arrow-batched, stateless and embarrassingly
    parallel; swap ``HashEncoder`` for ``SentenceTransformerEncoder`` in
    production (same seam, SURVEY.md §2.3 E1).
    """
    encoder = encoder or HashEncoder()
    chunks = build_chunks(docs)
    return chunks.withColumn("embedding", encoder.udf()(F.col("text")))


def write_index(index: DataFrame, path: str) -> None:
    """S5/S7: the vector-store sink is a parquet table partitioned by year,
    as ``update_index`` appends it; 'recreate collection' ≡
    mode('overwrite') (`store_assets.py:38-77`)."""
    (
        index.withColumn("year", F.year(F.to_date("date")))
        .repartition("year")
        .write.mode("overwrite")
        .partitionBy("year")
        .parquet(path)
    )


def update_index(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    encoder: HashEncoder | None = None,
) -> int:
    """Incremental index maintenance (reference S2 'skip existing'):
    chunk+embed ``new_docs`` with ``encoder`` (``build_index``'s default
    when None) and append only chunks whose content-hash id isn't already
    in the index.  Returns the number of appended rows.

    Raises ``ValueError``, appending nothing, when the index stores a
    different ``embedding`` type or vector length than ``encoder`` makes
    (an index written with another encoder, or with ``array<double>``):
    the scorers would score the mixed rows null."""
    import os

    encoder = encoder or HashEncoder()
    new_index = build_index(new_docs, encoder).withColumn("year", F.year(F.to_date("date")))
    if os.path.exists(index_path):
        stored = spark.read.parquet(index_path)
        stored_type = stored.schema["embedding"].dataType
        new_type = new_index.schema["embedding"].dataType
        first = stored.select(F.size("embedding").alias("n")).first()
        stored_dim = first["n"] if first else encoder.dim
        if stored_type != new_type or stored_dim != encoder.dim:
            raise ValueError(
                f"index at {index_path} stores embedding {stored_type.simpleString()}"
                f" of length {stored_dim}; the new rows would be"
                f" {new_type.simpleString()} of length {encoder.dim}"
            )
        new_index = new_index.join(stored.select("chunk_id"), "chunk_id", "left_anti")
    new_index = new_index.cache()
    try:
        n = new_index.count()
        if n:
            new_index.write.mode("append").partitionBy("year").parquet(index_path)
    finally:
        new_index.unpersist()
    return n


def ingest_markdown_dir(
    spark: SparkSession, md_dir: str, out_path: str | None = None
) -> DataFrame:
    """End-to-end: markdown directory → chunk+vector index DataFrame
    (optionally written as the partitioned index table)."""
    docs = read_markdown_dir(spark, md_dir)
    index = build_index(docs)
    if out_path:
        write_index(index, out_path)
    return index
