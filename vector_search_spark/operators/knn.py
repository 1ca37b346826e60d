"""Exact distributed KNN over an embedding column (reference Q1/Q2).

Reference behavior: Qdrant ``query_points(query=vec, limit=k)`` with DOT
distance on unit vectors (`query.py:53-55`, `app.py:84-86`,
`mcp_server.py:123-125`, distance at `pipeline/store_assets.py:42`).  Here
KNN is a scored DataFrame scan — *exact* (recall 1.0, ≥ Qdrant's ANN) and
embarrassingly parallel.

Scale design (the part that must survive 100 TB / 1000 executors):

- **Single query** (`knn_topk`): ``orderBy(desc(score)).limit(k)`` compiles
  to ``TakeOrderedAndProject`` — per-partition top-k then a k-row merge on
  the driver.  At scale the scan is never shuffled; on a tiny input the
  ``fan_out`` guard may first insert one repartition (full rows, vectors
  included) purely to occupy all cores — that exchange disappears once
  scan partitions reach cluster parallelism.
- **Query batch** (`similarity_join`): the (small) query side is collected
  into a float64 matrix when the plan is built, and one Arrow-batched
  scorer (``mapInArrow`` over the ``(id, vector)`` columns only) scores
  every batch against every query in the fold's exact summation order
  and keeps a per-partition top-k per query.  Only narrow
  ``(query_id, id, score)`` rows — at most ``|Q| * k`` per partition —
  reach the ``row_number() <= k`` merge, never the embeddings.  Spark 4
  plans that merge as ``WindowGroupLimit`` on both sides of its exchange.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import dot_product

# Bytes of one scoring block's (rows x |Q|) float64 accumulator.  A
# constant, not a setting: it keeps the accumulator and its product
# temporary cache-resident whatever the query count.
_BLOCK_BYTES = 1 << 20


def _double_literal(x: float) -> str:
    """SQL text of a non-null DOUBLE constant that folds to exactly ``x``.
    NaN and the infinities come from overflowing products: a cast from a
    string, or a math function, would make the array's elements nullable."""
    if x != x:
        return "0D * (1e308D * 10D)"
    if x in (float("inf"), float("-inf")):
        return ("-" if x < 0 else "") + "1e308D * 10D"
    return f"{x!r}D"  # repr is the shortest string that round-trips


def score_by_dot(
    emb: DataFrame, query_vec: Sequence[float], vec_col: str = "embedding"
) -> DataFrame:
    """Append a DOUBLE ``score`` = dot(vec_col, query_vec) to every row.

    The query vector becomes one array literal parsed from SQL text: one
    gateway call instead of one ``F.lit`` per element, with the same
    literal in the optimized plan."""
    qlit = F.expr(f"array({', '.join(_double_literal(float(x)) for x in query_vec)})")
    return emb.withColumn("score", dot_product(F.col(vec_col), qlit))


def knn_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] | None = None,
    where: Column | None = None,
) -> DataFrame:
    """Exact top-k by dot product for one query vector.

    ``where`` is a pre-score predicate (filtered search, reference MCP
    semantics push this *before* the scan: Catalyst pushes it to Parquet).
    Ties broken by ``id_col`` for deterministic output.
    """
    from ..partitioning import fan_out

    if where is not None:
        emb = emb.filter(where)
    # the dot-product fold is an interpreted HOF chain — make sure a
    # single-row-group scan doesn't pin it to one core (no-op at scale)
    scored = score_by_dot(fan_out(emb, id_col), query_vec, vec_col)
    cols = [id_col, *(payload_cols or []), "score"]
    return (
        scored.select(*cols)  # vectors dropped before the ordered merge
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _topk_scorer(query_ids: list, query_vecs, k: int, out_schema):
    """mapInArrow body: per partition, the top-k ``(query_id, id, score)``
    rows of every query row.  ``query_vecs`` is an Arrow list array, one
    vector per entry of ``query_ids``.

    The order is the merge window's (score desc, id asc), Spark's special
    values included: NaN sorts above every number, a null score last and a
    null id first.  Each block keeps, per query, the rows whose float key
    is no worse than both the block's k-th key and the running top-k's
    k-th key — ties included, so no row of the true top-k is dropped — and
    merges them into the running top-k under the exact order.

    The query matrices are built here, on the driver, once: the closure
    ships float64 numpy arrays, and no task re-reads the query vectors.

    Every function the workers run is nested in here, so cloudpickle ships
    it by value: the scoring needs numpy and pyarrow, not this package.
    The workers still import the package itself, because a session from
    ``session.get_spark`` runs them under ``worker_daemon`` (and puts the
    package on their path)."""
    import numpy as np

    nq = len(query_ids)
    block_rows = max(1, _BLOCK_BYTES // (8 * max(1, nq)))

    def layout(vectors):
        """``(lengths, starts, values)`` of an Arrow list array: each
        entry's length, -1 for a null vector or one with a null element
        (the fold scores those null), its first element's offset in
        ``values``, and the non-null entries' elements as float64."""
        import numpy as np
        import pyarrow.compute as pc

        flat = vectors.flatten()  # the non-null vectors' elements, in row order
        raw = pc.list_value_length(vectors).fill_null(0).to_numpy().astype(np.int64)
        lengths = np.where(vectors.is_null().to_numpy(zero_copy_only=False), -1, raw)
        if flat.null_count:
            parent = np.repeat(np.arange(len(vectors)), raw)
            lengths[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = -1
        values = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        return lengths, np.cumsum(raw) - raw, values

    # Queries grouped by vector length: (query positions, d x |group|
    # float64 matrix).  A query of length -1 scores null against every
    # row: it joins no group.
    q_lengths, q_starts, q_values = layout(query_vecs)
    groups = []
    for d in np.unique(q_lengths[q_lengths >= 0]):
        js = np.flatnonzero(q_lengths == d)
        groups.append((js, q_values[q_starts[js][None, :] + np.arange(d)[:, None]]))

    def fold_scores(vt, qt):
        """(rows, queries) dot products summed exactly like
        ``dot_product``: start at 0.0, then one float64 multiply and one
        add per dimension, in dimension order.  No matmul, BLAS or FMA —
        they reorder or fuse the sums, and the scores would no longer be
        bit-identical to the fold."""
        import numpy as np

        acc = np.zeros((vt.shape[1], qt.shape[1]))
        prod = np.empty_like(acc)
        for a, b in zip(vt, qt):
            np.multiply(a[:, None], b, out=prod)
            acc += prod
        return acc

    def score_block(vectors):
        """Scores of one block of vectors against every query, as
        ``(scores, null)``.  ``null`` marks the pairs the fold scores null
        — a null vector, a null element, or a length other than the
        query's — and is None when every pair has a score."""
        import numpy as np

        n = len(vectors)
        lengths, starts, values = layout(vectors)
        scores, null = np.zeros((n, nq)), np.ones((n, nq), dtype=bool)
        for qpos, qt in groups:
            d = qt.shape[0]
            rows = np.flatnonzero(lengths == d)
            acc = fold_scores(values[starts[rows][None, :] + np.arange(d)[:, None]], qt)
            if rows.size == n and qpos.size == nq:
                return acc, None
            scores[np.ix_(rows, qpos)] = acc
            null[np.ix_(rows, qpos)] = False
        return scores, null

    def rank(score: float | None) -> tuple:
        """Leading sort key of the window's ``score desc``: NaN above
        every number, a null score last."""
        if score is None:
            return (2, 0.0)
        return (0, 0.0) if score != score else (1, -score)

    def fn(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        if nq == 0 or k < 1:
            return
        top: list[list[tuple]] = [[] for _ in range(nq)]
        bound = np.full(nq, np.inf)  # k-th kept key per query; inf until k kept
        for batch in batches:
            for off in range(0, batch.num_rows, block_rows):
                block = batch.slice(off, block_rows)
                scores, null = score_block(block.column(1))
                # a float key, smaller ranks first, never out of the order
                key = -scores
                key[np.isnan(scores)] = -np.inf
                if null is not None:
                    key[null] = np.inf
                kth = min(k, block.num_rows) - 1
                cut = np.minimum(np.partition(key, kth, axis=0)[kth], bound)
                qs, rs = np.nonzero((key <= cut).T)
                spans = np.searchsorted(qs, np.arange(nq + 1))
                ids = block.column(0).to_pylist()
                for j in np.flatnonzero(np.diff(spans)):
                    pool = top[j]
                    for r in rs[spans[j] : spans[j + 1]]:
                        s = None if null is not None and null[r, j] else float(scores[r, j])
                        order = (*rank(s), ids[r] is not None, ids[r])  # null ids first
                        pool.append((order, key[r, j], ids[r], s))
                    pool.sort()
                    del pool[k:]
                    if len(pool) == k:
                        bound[j] = pool[-1][1]
        rows = [(query_ids[j], i, s) for j, pool in enumerate(top) for _, _, i, s in pool]
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(zip(*rows), out_schema)],
                schema=out_schema,
            )

    return fn


def similarity_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Batched multi-query KNN: top-k matches per query row.

    The Spark-native generalization of the reference's one-vector-at-a-time
    entry points (SURVEY.md §2.4 Q2): score the index against every query
    by dot product, rank per query.

    EAGER-ACTION contract: this runs ``queries.toArrow()`` AT PLAN-BUILD
    TIME into a ``|Q| x d`` float64 matrix — a Spark job fires even if the
    returned plan is never collected, and on a non-checkpointed query
    frame that job recomputes its lineage.  Size bound: the matrix ships
    to every scan task inside the scorer, ``|Q|·d·8`` bytes per task
    (393 KB for 128 queries at d = 384), so the query side must stay
    small; corpus-sized query sets belong on the SRP/IVF paths.

    Scores are bit-identical to ``dot_product`` (the fold's summation
    order, in float64); a null or wrong-length vector, or a null element,
    scores null and ranks last, as under the fold.

    Returns (query_id, id_col, payload..., score, rank) with rank 1..k.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from ..partitioning import fan_out

    qtable = queries.select(query_id_col, query_vec_col).toArrow()
    narrow_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("__id", emb.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    large = emb.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true"
    arrow_schema = pa.schema(
        [(f.name, to_arrow_type(f.dataType, prefers_large_types=large)) for f in narrow_schema]
    )
    # Only (id, vector) reach the scorer, selected BEFORE fan_out, so a
    # small-input repartition moves no payload text.
    scan = fan_out(emb.select(id_col, vec_col), id_col)
    narrow = scan.mapInArrow(
        _topk_scorer(
            qtable.column(0).to_pylist(), qtable.column(1).combine_chunks(), k, arrow_schema
        ),
        narrow_schema,
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("__id"))
    topk = (
        narrow.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("__id", id_col)
    )
    if payload_cols:
        payload = emb.select(id_col, *payload_cols)
        topk = topk.join(payload, id_col, "left")
    return topk.select("query_id", id_col, *(payload_cols or []), "score", "rank")
