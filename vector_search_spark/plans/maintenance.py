"""Index/table maintenance: compaction and clustered rewrites.

Long-running ingestion (incremental appends, streaming foreachBatch
upserts) accretes small files; at 100 TB the scan cost is dominated by
file-open/footer overhead and lost row-group statistics, not bytes.  The
two remedies a lakehouse scheduler runs nightly:

- **compact**: rewrite a table to ~target file counts (bin-packing by
  size is the engine's job — `coalesce` avoids a shuffle entirely when
  only merging).
- **clustered rewrite**: additionally sort within files on the dominant
  filter column so parquet row-group min/max statistics actually prune
  (a cheap, local ZORDER stand-in for the single-column case).

Both write to a NEW path and leave the source untouched: atomic swap is
the caller's (catalog's) move, the same temp-then-rename discipline the
reference uses for single files (`pipeline/utils.py:65-71`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_files: int
) -> None:
    """Rewrite ``src`` parquet into ``dst`` with ~``target_files`` files.

    ``coalesce`` (not ``repartition``) — merging small files needs no
    shuffle, just fewer output tasks; rows never move between executors
    beyond task packing."""
    spark.read.parquet(src).coalesce(target_files).write.mode(
        "overwrite"
    ).parquet(dst)


def clustered_rewrite(
    df: DataFrame, dst: str, cluster_col: str, num_files: int | None = None
) -> None:
    """Rewrite with rows range-clustered on ``cluster_col``: repartition by
    range (contiguous value ranges per file) then sort within partitions,
    so every row group's min/max stats are tight and scans with a
    ``cluster_col`` predicate skip whole files.

    ``num_files`` is the TOTAL number of output partitions/files (it is
    repartitionByRange's numPartitions).  Default: keep the input's
    parallelism (one range-file per existing partition) — never collapse a
    large table into a single writer task."""
    if num_files is None:
        num_files = max(1, df.rdd.getNumPartitions())
    (
        df.repartitionByRange(num_files, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(dst)
    )


def _interleave(x_expr: str, y_expr: str, bits: int, bit: str) -> str:
    """OR of one ``bit`` term per input bit, x's bit i at 2i and y's at
    2i+1; ``bit`` formats ``{e}``'s bit ``{i}`` moved to position ``{p}``."""
    terms = (
        bit.format(e=e, i=i, p=2 * i + k)
        for i in range(bits)
        for k, e in enumerate((x_expr, y_expr))
    )
    return "(" + " | ".join(terms) + ")"


def morton_sql(x_expr: str, y_expr: str, bits: int) -> str:
    """Morton (Z-order) interleave of two ``bits``-bit bucket expressions as
    a Spark SQL string: bit i of x lands at position 2i, bit i of y at 2i+1.
    ``morton_sql_duckdb`` is generated by the same loop (``_interleave``),
    so the Spark and DuckDB forms cannot drift.  Pure integer bit math:
    deterministic on any engine, and the code ORDER is what matters —
    points close in (x, y) get close morton codes, so range-clustering on
    the code gives 2-D locality single-column clustering can't."""
    return _interleave(x_expr, y_expr, bits, "shiftleft((shiftright({e}, {i}) & 1), {p})")


def morton_sql_duckdb(x_expr: str, y_expr: str, bits: int) -> str:
    """DuckDB twin of ``morton_sql`` using infix shift operators."""
    return _interleave(x_expr, y_expr, bits, "(((({e}) >> {i}) & 1) << {p})")


def zorder_rewrite(
    df: DataFrame,
    dst: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    num_files: int | None = None,
) -> None:
    """Two-dimensional clustered rewrite: bucket ``x_col``/``y_col`` to
    ``bits`` bits each (caller pre-buckets to non-negative ints), compute
    the Morton interleave, and range-cluster files on it — the ZORDER BY
    (x, y) a lakehouse runs so scans filtering on EITHER dimension prune
    files.  Unlike `clustered_rewrite` (1-D: perfect pruning on one
    column, none on the other), Z-ordering bounds the bucket spread of
    both dimensions within every file.

    Scale: the morton code is a codegen'd integer expression (no UDF); the
    rewrite is one range exchange + local sort, identical cost shape to
    the 1-D rewrite."""
    from pyspark.sql import functions as F

    if num_files is None:
        num_files = max(1, df.rdd.getNumPartitions())
    code = F.expr(morton_sql(x_col, y_col, bits))
    (
        df.withColumn("__zorder", code)
        .repartitionByRange(num_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(dst)
    )
