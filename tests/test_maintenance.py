"""Compaction / clustered rewrite: row fidelity, file counts, clustering."""

from __future__ import annotations

import os

from conftest import SF_TEST
from vector_search_spark.plans.maintenance import clustered_rewrite, compact_parquet
from vector_search_spark.sources.tables import load_table


def _data_files(path: str) -> list[str]:
    return [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    docs = load_table(spark, SF_TEST, "documents")
    docs.repartition(16).write.parquet(src)
    assert len(_data_files(src)) == 16
    compact_parquet(spark, src, dst, target_files=2)
    assert len(_data_files(dst)) <= 2
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).select(*docs.columns).collect()))
    assert a == b


def test_clustered_rewrite_sorts_within_files_and_ranges_across(spark, tmp_path):
    dst = str(tmp_path / "clustered")
    docs = load_table(spark, SF_TEST, "documents")
    clustered_rewrite(docs.repartition(8), dst, "doc_id", num_files=4)
    files = _data_files(dst)
    assert len(files) == 4
    ranges = []
    for f in files:
        ids = [r.doc_id for r in spark.read.parquet(f).select("doc_id").collect()]
        assert ids == sorted(ids), "rows not sorted within file"
        ranges.append((min(ids), max(ids)))
    # contiguous, non-overlapping ranges across files (range partitioning)
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, f"overlapping clustered ranges: {ranges}"
    # and the rewrite is lossless
    total = sum(spark.read.parquet(f).count() for f in files)
    assert total == docs.count()


def test_zorder_rewrite_bounds_both_dims(spark, tmp_path):
    """Z-order vs 1-D clustering: with files range-clustered on the morton
    code, EVERY file's bucket spread is bounded in BOTH dimensions, while
    1-D clustering on x leaves y unpruned (full spread) in every file."""
    from pyspark.sql import functions as F

    from vector_search_spark.plans.maintenance import zorder_rewrite

    orders = load_table(spark, SF_TEST, "orders").select(
        (F.col("o_custkey") % 16).alias("xb"),
        ((F.year("o_orderdate") * 12 + F.month("o_orderdate")) % 16).alias("yb"),
        "o_orderkey",
    )
    dst = str(tmp_path / "zordered")
    zorder_rewrite(orders.repartition(8), dst, "xb", "yb", bits=4, num_files=16)
    files = _data_files(dst)
    assert len(files) == 16
    total, spreads = 0, []
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        total += len(pdf)
        spreads.append(
            (pdf.xb.max() - pdf.xb.min() + 1) * (pdf.yb.max() - pdf.yb.min() + 1)
        )
    assert total == orders.count()
    # average per-file (x, y) bounding-box area must be well under the full
    # 16x16 grid — the 2-D locality a 1-D cluster can't give (its files
    # each span all 16 y-buckets -> area >= 16 even with perfect x ranges).
    avg_area = sum(spreads) / len(spreads)
    assert avg_area < 256 / 3, spreads


def test_zorder_morton_twins_agree(spark):
    """The Spark and DuckDB morton generators are the same bit math."""
    import duckdb

    from vector_search_spark.plans.maintenance import morton_sql, morton_sql_duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT x, y, {morton_sql_duckdb('x', 'y', 4)} AS m"
        " FROM (SELECT unnest(range(16)) x), (SELECT unnest(range(16)) y)"
    ).fetchall()
    grid = spark.range(16).toDF("x").crossJoin(spark.range(16).toDF("y"))
    spark_rows = grid.selectExpr("x", "y", f"{morton_sql('x', 'y', 4)} AS m").collect()
    assert sorted(map(tuple, spark_rows)) == sorted(rows)

    def py_morton(x, y, bits=4):
        m = 0
        for i in range(bits):
            m |= ((x >> i) & 1) << (2 * i)
            m |= ((y >> i) & 1) << (2 * i + 1)
        return m

    assert all(m == py_morton(x, y) for x, y, m in rows)
    # 256 distinct codes = a bijection on the 16x16 grid
    assert len({m for _, _, m in rows}) == 256
