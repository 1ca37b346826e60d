"""Ingest tests on committed, generated inputs (no external corpus).

``fixtures/chunker_golden.json`` holds 232 input documents and every row
``build_chunks`` made of them when the chunker was still a union of
per-category branches:
- 20 3-2-1 issues from perfbench's ``corpus.generate_issues(20240101, 0, 20)``;
- 12 FIXTURES.md §1 edge cases, a null and an empty document included;
- 200 documents of 0–20 fragments drawn from ``test_chunker_properties``'
  list by ``random.Random(20240102)``.

The rows carry all columns, ``chunk_id`` included, and the schema carries
nullability.
"""

from __future__ import annotations

import gc
import json
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from vector_search_spark.encoders import HashEncoder
from vector_search_spark.operators.chunker import parse_newsletter_chunks
from vector_search_spark.plans.ingest import (
    build_chunks,
    build_index,
    update_index,
    write_index,
)
from vector_search_spark.sources.files import read_markdown_dir

from conftest import CHUNKER_GOLDEN as GOLDEN
from conftest import GOLDEN_ISSUES as ISSUES


def _docs(spark):
    return spark.createDataFrame(GOLDEN["inputs"], "path string, date string, content string")


def _plan_nodes(df) -> Counter:
    """Operator names in the executed plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return Counter(m.group(1) for m in re.finditer(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?(\w+)", plan, re.M))


def test_build_chunks_matches_golden(spark):
    chunks = build_chunks(_docs(spark))
    assert chunks.columns == GOLDEN["columns"]
    assert json.loads(chunks.schema.json()) == GOLDEN["schema"]
    key = json.dumps
    got = sorted(map(key, map(list, chunks.collect())))
    assert got == sorted(map(key, GOLDEN["rows"]))
    assert len(got) == 422


def test_passthrough_columns_keep_their_names(spark):
    """Input columns named like the chunker's steps (``section``, ``part``,
    ``body``) pass through, and an existing ``title`` is replaced."""
    extra = ["section", "part", "body"]
    docs = _docs(spark).selectExpr("*", *(f"'{c}' AS {c}" for c in extra), "'old' AS title")
    chunks = build_chunks(docs)
    assert sorted(chunks.columns) == sorted(GOLDEN["columns"] + extra)
    got = chunks.select(*GOLDEN["columns"], *extra).collect()
    assert {tuple(r[c] for c in extra) for r in got} == {tuple(extra)}
    key = json.dumps
    assert sorted(key(list(r)[: len(GOLDEN["columns"])]) for r in got) == sorted(map(key, GOLDEN["rows"]))


@pytest.mark.parametrize("name", ["_part", "_source"])
def test_reserved_input_column_names_raise(spark, name):
    docs = spark.createDataFrame([("2024-01-01", "x", "y")], f"date string, content string, `{name}` string")
    with pytest.raises(ValueError, match=name):
        parse_newsletter_chunks(docs)


@pytest.mark.parametrize("name", ["source", "category"])
def test_output_named_input_columns_are_replaced(spark, name):
    """A ``(path, content, date, source)`` frame, like FIXTURES.md §1's
    ``documents``, chunks to the golden rows: the chunker's own column
    replaces the input's."""
    docs = _docs(spark).selectExpr("path", "content", "date", f"'input' AS {name}")
    chunks = build_chunks(docs)
    assert chunks.columns == GOLDEN["columns"]
    key = json.dumps
    assert sorted(map(key, map(list, chunks.collect()))) == sorted(map(key, GOLDEN["rows"]))


def test_ingest_plan_reads_each_file_once(spark, issue_dir):
    """One file scan, no union and one Python stage: the embed UDF runs
    one task per file split."""
    index = build_index(read_markdown_dir(spark, issue_dir), HashEncoder(dim=384))
    assert len(index.collect()) == len(ISSUES) * 6
    nodes = _plan_nodes(index)
    assert nodes["FileScan"] == 1, nodes
    assert nodes["Union"] == 0, nodes
    assert nodes["ArrowEvalPython"] == 1, nodes
    assert nodes["Generate"] == 2, nodes


def test_build_chunks_gateway_round_trips(spark):
    """The chunk chain is built from SQL text: a few calls per projection,
    not one per function (the Column-built chain made ~1,800).  Releases
    of dead Java objects (``m d`` commands) are not counted: they depend
    on what earlier code left for the garbage collector."""
    docs = _docs(spark)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith("m\nd\n")
        return send(command, *args, **kwargs)

    gc.collect()
    client.send_command = counting
    try:
        build_chunks(docs)
    finally:
        del client.send_command
    assert 0 < calls <= 100, calls


def test_update_index_keeps_the_callers_encoder(spark, issue_dir, tmp_path):
    out = str(tmp_path / "index")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    docs = read_markdown_dir(spark, issue_dir)
    assert update_index(spark, out, docs, encoder=HashEncoder(dim=384)) == len(ISSUES) * 6
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    sizes = spark.read.parquet(out).select(F.size("embedding").alias("n")).distinct().collect()
    assert [r["n"] for r in sizes] == [384]
    assert update_index(spark, out, docs, encoder=HashEncoder(dim=384)) == 0
    assert spark.read.parquet(out).count() == len(ISSUES) * 6


@pytest.mark.parametrize("stored_type", ["array<float>", "array<double>"])
def test_update_index_refuses_a_mismatched_index(spark, issue_dir, tmp_path, stored_type):
    """With no encoder, update_index embeds 384-d floats; it raises, naming
    both sides, rather than append them to a 64-d index, of floats or of
    doubles."""
    out = str(tmp_path / "index")
    docs = read_markdown_dir(spark, issue_dir)
    index = build_index(docs.limit(2), HashEncoder(dim=64))
    write_index(index.withColumn("embedding", F.col("embedding").cast(stored_type)), out)
    before = spark.read.parquet(out).count()
    want = f"{stored_type} of length 64; .* array<float> of length 384"
    with pytest.raises(ValueError, match=want):
        update_index(spark, out, docs)
    assert spark.read.parquet(out).count() == before > 0
