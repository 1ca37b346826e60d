"""`similarity_join`'s Arrow-batched scorer must return exactly what the
fold returns: the same rows, ranks and tie order, and bit-equal scores.

The reference below is the plain fold path — a broadcast ``crossJoin``,
``dot_product`` and the ``row_number() <= k`` window — and every case
compares the two on the same inputs."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import SF_TEST
from vector_search_spark.functions.vector import dot_product
from vector_search_spark.operators import knn
from vector_search_spark.operators.knn import similarity_join


def fold_join(emb, queries, k, id_col="vec_id"):
    q = F.broadcast(queries.select("query_id", F.col("query_vec").alias("__qvec")))
    scored = emb.crossJoin(q).withColumn(
        "score", dot_product(F.col("embedding"), F.col("__qvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def _rows(df):
    """Rows with each score as its exact bit pattern (NaN-safe), sorted."""
    rows = [
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in df.collect()
    ]
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def assert_matches_fold(emb, queries, k, id_col="vec_id"):
    got = _rows(similarity_join(emb, queries, k=k, id_col=id_col))
    assert got == _rows(fold_join(emb, queries, k, id_col))
    return got


def one_task(df):
    """Every row in one partition of an in-memory frame that ``fan_out``
    leaves alone, so the scorer's per-partition top-k does the selecting
    (the other partitions are empty)."""
    spark = df.sparkSession
    local = spark.createDataFrame(df.collect(), df.schema)
    return local.repartition(spark.sparkContext.defaultParallelism, F.lit(0))


def _queries(emb, n):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_matches_fold_on_fixture(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    got = assert_matches_fold(emb, _queries(emb, 8), k=10)
    assert len(got) == 80


def test_matches_fold_on_ties(spark):
    # duplicate vectors -> guaranteed score ties around the k boundary
    base = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(30)
    dup = base.withColumn("vec_id", F.col("vec_id") + 10000)
    emb = base.unionByName(dup).repartition(6)
    assert_matches_fold(emb, _queries(base, 3), k=7)


def test_matches_fold_on_double_embeddings(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    assert_matches_fold(emb, _queries(emb, 4), k=10)


def test_matches_fold_on_string_ids(spark):
    # string ids order as strings ("10" < "9") in the tie-break
    base = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(40)
    dup = base.withColumn("vec_id", F.col("vec_id") + 9)
    emb = base.unionByName(dup).withColumn("vec_id", F.col("vec_id").cast("string"))
    got = assert_matches_fold(emb, _queries(emb, 3), k=12)
    assert all(isinstance(r[1], str) for r in got)


NAN = float("nan")


def _odd_vectors(spark):
    """Normal 3-d vectors plus a null embedding, a shorter vector, a NaN
    element and a null element."""
    rows = [
        (0, [0.5, 0.25, -1.0]),
        (1, [0.1, 0.2, 0.3]),
        (2, None),
        (3, [0.5, 0.25]),
        (4, [0.3, NAN, 0.1]),
        (5, [1.0, None, 0.0]),
        (6, [0.1, 0.2, 0.3]),
        (7, [-0.7, 0.0, 0.4]),
        (None, [0.1, 0.2, 0.3]),  # a null id ties rows 1 and 6, and ranks first
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _odd_queries(spark):
    rows = [
        (10, [0.5, 0.25, -1.0]),
        (11, [0.1, 0.2, 0.3]),
        (12, [0.5, 0.25]),  # scores only the shorter vector
        (13, None),  # scores null against every row
    ]
    return spark.createDataFrame(rows, "query_id int, query_vec array<double>")


@pytest.mark.parametrize("layout", [lambda df: df, one_task], ids=["spread", "one_task"])
@pytest.mark.parametrize("k", [2, 5, 100])
def test_matches_fold_on_null_short_and_nan_vectors(spark, k, layout):
    got = assert_matches_fold(layout(_odd_vectors(spark)), _odd_queries(spark), k=k)
    if k == 100:  # k larger than the row count: every row, nulls last
        assert len(got) == 4 * 9
        q13 = [r for r in got if r[0] == 13]
        assert [r[2] for r in q13] == [None] * 9
    q10 = sorted((r for r in got if r[0] == 10), key=lambda r: r[3])
    assert q10[0][1] == 4 and q10[0][2] == NAN.hex()  # NaN ranks first


def test_matches_fold_on_float_vectors_with_nan(spark):
    emb = one_task(_odd_vectors(spark)).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    queries = _odd_queries(spark).withColumn("query_vec", F.col("query_vec").cast("array<float>"))
    assert_matches_fold(emb, queries, k=3)


def test_k_larger_than_rows(spark):
    # k covers every row, so every (query, row) score is compared bit for bit
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(30)
    got = assert_matches_fold(emb, _queries(emb, 3), k=100)
    assert len(got) == 3 * 30


def test_empty_partitions_and_empty_index(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    sparse = emb.filter(F.col("vec_id") < 3).repartition(16, "vec_id")
    assert len(assert_matches_fold(sparse, _queries(emb, 2), k=5)) == 6
    empty = emb.filter(F.col("vec_id") < 0)
    assert assert_matches_fold(empty, _queries(emb, 2), k=5) == []


def test_empty_query_frame(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    assert assert_matches_fold(emb, _queries(emb, 0), k=5) == []


def test_zero_k(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    assert assert_matches_fold(emb, _queries(emb, 2), k=0) == []


def test_one_and_six_input_partitions_agree(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(120)
    queries = _queries(emb, 4)
    one = assert_matches_fold(one_task(emb), queries, k=9)
    six = assert_matches_fold(emb.repartition(6), queries, k=9)
    assert one == six


def test_running_topk_across_blocks(spark, monkeypatch):
    # three-row blocks: the running top-k and its k-th-key bound merge
    # many blocks per partition, ties at the k boundary included
    monkeypatch.setattr(knn, "_BLOCK_BYTES", 3 * 8 * 3)
    base = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(40)
    dup = base.withColumn("vec_id", F.col("vec_id") + 10000)
    emb = one_task(base.unionByName(dup))
    assert_matches_fold(emb, _queries(base, 3), k=7)
    assert_matches_fold(one_task(_odd_vectors(spark)), _odd_queries(spark), k=3)


def test_running_topk_fills_to_k_over_worse_blocks(spark, monkeypatch):
    # scores fall block after block (with ties), so the first blocks'
    # rows must not bound later ones before k rows are kept
    monkeypatch.setattr(knn, "_BLOCK_BYTES", 3 * 8)
    rows = [(i, [float(20 - i // 2)]) for i in range(40)]
    emb = one_task(spark.createDataFrame(rows, "vec_id long, embedding array<double>"))
    queries = spark.createDataFrame(
        [(0, [1.0]), (1, [-1.0])], "query_id int, query_vec array<double>"
    )
    got = assert_matches_fold(emb, queries, k=7)
    assert len(got) == 14


def _optimized_plan(df) -> str:
    """The optimized plan as JSON, data types included, with expression ids
    and generated lambda-variable names blanked."""
    js = df._jdf.queryExecution().optimizedPlan().toJSON()
    js = re.sub(r'"jvmId":"[^"]*"', "", re.sub(r'"id":\d+', "", js))
    return re.sub(r'"(x|y|id)_\d+"', '"v"', js)


def _per_element_score(emb, query_vec, vec_col="embedding"):
    """``score_by_dot`` built with one ``F.lit`` per element."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return emb.withColumn("score", dot_product(F.col(vec_col), qlit))


@pytest.mark.parametrize("which", ["fixture", "special"])
def test_score_by_dot_literal_is_the_per_element_literal(spark, monkeypatch, which):
    # the SQL-text literal must plan exactly like one F.lit per element
    # and score knn_topk bit-identically
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    if which == "fixture":
        q = emb.filter(F.col("vec_id") == 0).first()[1]
    else:
        q = [0.0, -0.0, 1e-300, 5e-324, -1.5e16, 1 / 3, NAN, float("inf"), -float("inf")]
    new = knn.knn_topk(emb, q, k=20)
    monkeypatch.setattr(knn, "score_by_dot", _per_element_score)
    old = knn.knn_topk(emb, q, k=20)
    assert _optimized_plan(new) == _optimized_plan(old)
    assert _rows(new) == _rows(old)
