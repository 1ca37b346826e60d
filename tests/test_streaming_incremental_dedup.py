"""Stream ≡ batch for the incremental ingest dedup loop: new documents
arriving in micro-batches, probed against a static corpus index, must
produce exactly the decisions the batch `incremental_ingest_dedup`
registry query computes — for ANY micro-batch partitioning, since each
decision depends only on (new doc, corpus)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_TEST
from vector_search_spark import registry
from vector_search_spark.sources.tables import load_table
from vector_search_spark.streaming.dedup import (
    batch_decisions,
    corpus_index,
    streaming_incremental_dedup,
)


def _split(docs):
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return docs.filter(bucket < 90), docs.filter(bucket >= 90)


def _want(spark):
    return {
        r["doc_id"]: (
            r["n_dup_matches"],
            r["best_match_id"],
            r["best_jaccard"],
            r["decision"],
        )
        for r in registry.QUERIES["incremental_ingest_dedup"](spark, SF_TEST).collect()
    }


def _got_dict(rows):
    return {
        r["doc_id"]: (
            r["n_dup_matches"],
            r["best_match_id"],
            r["best_jaccard"],
            r["decision"],
        )
        for r in rows
    }


def test_batch_decisions_match_registry(spark):
    """The probe-shaped decision operator (new bands probing the corpus
    band table) equals the registry's whole-corpus-banding formulation —
    the two candidate generators are provably the same cross-split pair
    set."""
    docs = load_table(spark, SF_TEST, "documents")
    corpus, new = _split(docs)
    sh, sig, banded = corpus_index(corpus)
    got = _got_dict(batch_decisions(new, sh, sig, banded).collect())
    want = _want(spark)
    assert len(want) > 0 and got == want


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    docs = load_table(spark, SF_TEST, "documents")
    corpus, new = _split(docs)
    sh, sig, banded = (t.persist() for t in corpus_index(corpus))
    new_dir = str(tmp_path / "incoming")
    # 3 files → 3 micro-batches under maxFilesPerTrigger=1
    new.repartition(3).write.parquet(new_dir)

    decisions_dir = str(tmp_path / "decisions")
    streaming_incremental_dedup(spark, new_dir, sh, sig, banded, decisions_dir)

    sunk = spark.read.parquet(decisions_dir).collect()
    got = _got_dict(sunk)
    want = _want(spark)
    assert len(sunk) == len(want) > 0  # every new doc decided exactly once
    assert got == want
    # decisions arrived across >1 micro-batch (the stream really streamed)
    assert len({r["batch_id"] for r in sunk}) > 1


def test_decisions_dir_flat_layout_rejected(spark, tmp_path):
    """ADVICE r6: a decisions_dir holding OLD-LAYOUT flat parquet at its
    root must be rejected before the first write — hive-partitioned and
    flat files mixed in one dir break partition discovery on read."""
    import pytest

    docs = load_table(spark, SF_TEST, "documents")
    corpus, new = _split(docs)
    sh, sig, banded = corpus_index(corpus)
    new_dir = str(tmp_path / "incoming2")
    new.limit(5).write.parquet(new_dir)

    decisions_dir = tmp_path / "decisions_old"
    decisions_dir.mkdir()
    (decisions_dir / "part-00000-legacy.parquet").write_bytes(b"PAR1junkPAR1")

    with pytest.raises(ValueError, match="flat parquet"):
        streaming_incremental_dedup(
            spark, new_dir, sh, sig, banded, str(decisions_dir)
        )
