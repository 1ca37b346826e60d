"""Approximate nearest neighbor: the batch stand-ins for the reference's
ANN index — the 100 TB scale path for Q1/Q2 (exact brute force stays the
correctness baseline; SURVEY.md §2.4).  Five paths, all DataFrame ops:

- **IVF** (``ivf_build`` + ``ivf_query``): every vector is assigned to its
  nearest hash-sampled, Lloyd-refined centroid(s) — at 100 TB the
  ``write.partitionBy(cell)`` key — and each query scores only its
  top-``nprobe`` cells, ranked driver-side by ``_rank_probes`` (shared
  with ``ivf_probe_sweep_topk``).  Recall < 1 by construction; tests pin
  recall@10 ≥ 0.9 vs. the exact oracle at nprobe=4/16.
- **SRP-LSH** (``srp_topk``): md5-derived hyperplane signatures, banded
  bucket candidates.
- **int8-SQ** (``sq_topk``): per-dimension scalar quantization, an
  approximate scan over the codes.
- **PQ** (``pq_topk``) and **IVF-PQ** (``ivfpq_topk``, and
  ``ivfpq_residual_topk`` over residual codes).  The three share one copy
  of each stage: the long-form LUT (``_pq_lut_long``), the exploded codes
  (``_pq_codes_long``), the subspace-ordered ADC fold (``_adc_fold``)
  and, for the IVF-PQ pair, the coarse probe (``_coarse_probe``).  They
  differ only in the candidate set (all codes, or the probed cells'
  codes) and in the fold's start value (0.0, or q·cen for residuals).

Every path but IVF ends in one exact rescore, ``exact_rescore_topk``: the
candidate ``(query_id, id)`` pairs are scored by dot product against the
raw vectors and each query keeps its top k, ties broken by id.  SQ and
the PQ family first cut each query's top ``rescore`` approximate
candidates with ``_top_candidates``.

SRP, SQ and the PQ family are SQL-expressible end to end, so each has a
bit-exact DuckDB twin in the registry; IVF's numpy-refined centroids make
it a rows-only check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import dot_product


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid pick: the ``n_centroids`` rows with the
    smallest md5(id) — an order-statistics sample (uniform over the corpus
    because the hash is uniform, reproducible because it's a hash).

    ``orderBy().limit()`` compiles to TakeOrderedAndProject (per-partition
    top-k + k-row driver merge) — NOT a global window, which would drag
    the whole corpus into one partition at scale.
    """
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        # the global window here numbers only the n_centroids surviving
        # rows (tiny) — not the corpus
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cell"),
            F.col(vec_col).alias("centroid"),
        )
    )


def _assign_cells(
    emb: DataFrame, cent_mat: np.ndarray, id_col: str, vec_col: str, replicas: int = 1
) -> DataFrame:
    """Nearest-centroid assignment, carrying the vector through so callers
    need no shuffle join back to the corpus — output is the IVF index table
    (id, cell, vec) itself.  ``replicas > 1`` indexes each vector in its
    top-r cells (IVF replication: r× storage for higher recall — valuable
    when the corpus is weakly clustered)."""

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            scores = m @ cent_mat.T
            top = np.argsort(-scores, axis=1)[:, :replicas].astype(np.int32)
            idx = np.repeat(np.arange(len(pdf)), replicas)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[idx],
                    "cell": top.ravel(),
                    vec_col: pdf[vec_col].to_numpy()[idx],
                }
            )

    return emb.mapInPandas(
        assign, schema=f"{id_col} long, cell int, {vec_col} array<float>"
    )


def kmeans_refine(
    emb: DataFrame,
    cent_mat: np.ndarray,
    id_col: str,
    vec_col: str,
    iterations: int = 5,
) -> np.ndarray:
    """Deterministic Lloyd iterations, one Spark job each: every Arrow batch
    partial-aggregates per-cell (vector sum, count) in numpy, so a task
    emits ≤ |cells| rows and the driver reduce touches |cells| × partitions
    rows total — no shuffle, no corpus join (treeAggregate shape).  Means
    are re-normalized to the unit sphere (spherical k-means — we rank by
    dot product).  Empty cells keep their previous centroid.  No randomness
    anywhere → reproducible."""
    n_cells, dim = cent_mat.shape
    for _ in range(iterations):

        def partial(batches, cm=cent_mat):
            sums = np.zeros((n_cells, dim))
            counts = np.zeros(n_cells, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.array(list(pdf[vec_col]), dtype=np.float64)
                cells = np.argmax(m @ cm.T, axis=1)
                np.add.at(sums, cells, m)
                counts += np.bincount(cells, minlength=n_cells)
            nz = np.flatnonzero(counts)
            yield pd.DataFrame(
                {"cell": nz.astype(np.int32), "s": list(sums[nz]), "n": counts[nz]}
            )

        rows = emb.mapInPandas(partial, schema="cell int, s array<double>, n long").collect()
        agg_s = np.zeros((n_cells, dim))
        agg_n = np.zeros(n_cells, dtype=np.int64)
        for r in rows:
            agg_s[r["cell"]] += np.asarray(r["s"], dtype=np.float64)
            agg_n[r["cell"]] += r["n"]
        new = cent_mat.copy()
        for c in np.flatnonzero(agg_n):
            v = agg_s[c] / agg_n[c]
            norm = np.linalg.norm(v)
            if norm > 0:
                new[c] = v / norm
        cent_mat = new
    return cent_mat


def ivf_build(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 1,
    replicas: int = 2,
) -> tuple[np.ndarray, DataFrame]:
    """Build the IVF index: (centroid matrix, assigned index DataFrame).

    The index build is the amortizable part of ANN — at 100 TB it runs once
    and the index persists ``write.partitionBy("cell")`` so queries prune to
    their probed cells; in-session the caller persists the returned
    DataFrame (the registry caches it per (session, sf) exactly like the
    dedup family's shared shingle table).  ``ivf_query`` is then query-only.
    """
    from ..partitioning import fan_out

    cents = ivf_centroids(emb, n_centroids, id_col, vec_col).collect()
    cent_mat = np.array([r["centroid"] for r in cents], dtype=np.float64)
    # narrow (id, vec) projection fanned out once — refine + assignment are
    # both Arrow-batched narrow stages that would otherwise inherit the
    # scan's (possibly single-partition) layout
    narrow_emb = fan_out(emb.select(id_col, vec_col), id_col)
    if kmeans_iterations > 0:
        cent_mat = kmeans_refine(
            narrow_emb, cent_mat, id_col, vec_col, kmeans_iterations
        )

    # (id, cell, vec) straight out of the assignment stage — r rows per id,
    # no shuffle join back to the corpus
    indexed = _assign_cells(narrow_emb, cent_mat, id_col, vec_col, replicas=replicas)
    return cent_mat, indexed


def ivf_write_index(indexed: DataFrame, path: str) -> None:
    """Persist the IVF index hive-partitioned by cell — the 100 TB shape:
    the build runs once, queries read ONLY their probed cells' directories
    (``ivf_query``'s static cell filter becomes partition pruning at the
    FileSourceScan)."""
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_read_index(spark, path: str) -> DataFrame:
    """Read a persisted IVF index back; interchangeable with the in-session
    index DataFrame for ``ivf_query``."""
    return spark.read.parquet(path)


def _rank_probes(
    queries: DataFrame,
    cent_mat: np.ndarray,
    n: int,
    query_id_col: str,
    query_vec_col: str,
) -> tuple[list, np.ndarray]:
    """(query rows, each query's top-``n`` cells by q·centroid, best
    first).  Queries are small, so the probe list is ranked driver-side in
    numpy, which keeps the plan free of a second UDF stage."""
    qrows = queries.select(query_id_col, query_vec_col).collect()
    qmat = np.array([r[query_vec_col] for r in qrows], dtype=np.float64)
    return qrows, np.argsort(-(qmat @ cent_mat.T), axis=1)[:, :n]


def ivf_query(
    indexed: DataFrame,
    cent_mat: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Query an IVF index built by ``ivf_build``: probe ``nprobe`` cells per
    query, exact scoring inside the probed cells only."""
    qrows, probe_cells = _rank_probes(
        queries, cent_mat, nprobe, query_id_col, query_vec_col
    )
    probes = [
        (int(r[query_id_col]), list(r[query_vec_col]), int(c))
        for r, cells in zip(qrows, probe_cells)
        for c in cells
    ]
    probes_df = F.broadcast(
        indexed.sparkSession.createDataFrame(
            probes, f"query_id long, __qvec array<double>, cell int"
        )
    )

    # The probe list is known DRIVER-SIDE before the query runs, so the
    # cell restriction is a STATIC filter, not just a join key: on an index
    # persisted write.partitionBy("cell") this is partition pruning at the
    # FileSourceScan (PartitionFilters, probed cells' directories only —
    # tests/test_ivf_persisted_index.py pins it), and in-session it is a
    # pushed-down predicate.  Results are unchanged (the equi-join on cell
    # already restricts); this moves the restriction from post-scan to scan.
    cells_used = sorted({int(c) for c in probe_cells.ravel()})
    indexed = indexed.filter(F.col("cell").isin(cells_used))

    scored = indexed.join(probes_df, "cell").withColumn(
        "score", dot_product(F.col(vec_col), F.col("__qvec"))
    )
    # replicas can surface the same (query, id) via two probed cells —
    # dedup the narrow pair rows (scores are identical) before ranking
    narrow = scored.select("query_id", F.col(id_col), "score").dropDuplicates(
        ["query_id", id_col]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        narrow.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def ivf_probe_sweep_topk(
    indexed: DataFrame,
    cent_mat: np.ndarray,
    queries: DataFrame,
    sweep: tuple[int, ...] = (1, 2, 4, 8, 16),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """All ``nprobe`` legs of an IVF probe sweep from ONE scored pass.

    Each query's top-``max(sweep)`` cells are ranked once by
    ``_rank_probes``, the driver-side probe ranking ``ivf_query`` uses too,
    so the two paths cannot desynchronize; every probed cell is scored once carrying
    its probe rank; a candidate's ENTRY level is its minimum probe rank
    over containing cells, and leg ``n`` is the ``entry <= n`` filter.  A
    candidate enters leg n iff one of its cells is among the query's top-n
    probes — exactly ``ivf_query(nprobe=n)``'s candidate set, with the
    same dot-product scores and (desc score, asc id) tie-break, so each
    leg's top-k is row-identical to the single-leg path (pinned in
    tests/test_round12_opt.py).

    Returns (nprobe, query_id, id, score, rank) for rank <= k.
    """
    qrows, order = _rank_probes(
        queries, cent_mat, max(sweep), query_id_col, query_vec_col
    )
    probes = [
        (int(r[query_id_col]), list(r[query_vec_col]), int(c), rk + 1)
        for r, cells in zip(qrows, order)
        for rk, c in enumerate(cells)
    ]
    probes_df = F.broadcast(
        indexed.sparkSession.createDataFrame(
            probes, "query_id long, __qvec array<double>, cell int, probe_rank int"
        )
    )
    scored = indexed.join(probes_df, "cell").withColumn(
        "score", dot_product(F.col(vec_col), F.col("__qvec"))
    )
    # replica dedup + entry level in one aggregate: scores of a (query, id)
    # pair are identical across its cells, so max(score) IS the score
    narrow = scored.groupBy("query_id", id_col).agg(
        F.min("probe_rank").alias("entry"), F.max("score").alias("score")
    )
    legs = narrow.select(
        "query_id",
        id_col,
        "score",
        "entry",
        F.explode(F.array(*[F.lit(n) for n in sweep])).alias("nprobe"),
    ).filter(F.col("entry") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        legs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("nprobe", "query_id", id_col, "score", "rank")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    kmeans_iterations: int = 1,
    replicas: int = 2,
) -> DataFrame:
    """Build + query in one call (convenience; amortize with ``ivf_build``
    + ``ivf_query`` when the index outlives a single query batch).

    Returns (query_id, id, score, rank) — same contract as
    ``knn.similarity_join`` so callers can swap exact↔ANN.
    """
    cent_mat, indexed = ivf_build(
        emb, n_centroids, id_col, vec_col, kmeans_iterations, replicas
    )
    return ivf_query(
        indexed, cent_mat, queries, k, nprobe,
        id_col, vec_col, query_id_col, query_vec_col,
    )


# ---------------------------------------------------------------------------
# SRP-LSH (signed random projection) ANN — the LSH-bucketed variant.
# Unlike IVF (data-dependent centroids → rows-only check), SRP hyperplanes
# are pure md5-derived constants, so the WHOLE pipeline — signature, band
# buckets, candidates, rescore, rank — is reproducible in SQL and gets a
# bit-exact DuckDB oracle.
# ---------------------------------------------------------------------------
def srp_planes(dim: int, n_bits: int = 16, seed: str = "srp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component j of plane b =
    md5(f"{seed}|{b}|{j}") first 8 hex chars scaled to [-1, 1).  Same
    constants on any engine — the planes ARE the index definition."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}|{b}|{j}".encode()).hexdigest()[:8], 16)
            / float(1 << 31)
            - 1.0
            for j in range(dim)
        ]
        for b in range(n_bits)
    ]


def srp_signature(vec_col, planes: list[list[float]]):
    """n_bits-bit LSH signature: bit b = [dot(vec, plane_b) >= 0].  Native
    zip_with/aggregate folds — JVM-side, scan-bound, no UDF."""
    from pyspark.sql import Column

    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits: list[Column] = []
    for b, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda a, p: a.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(dot >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out


def srp_band_table(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    bands: int = 4,
    seed: str = "srp",
    dim: int = 64,
    spread: bool = False,
) -> DataFrame:
    """The SRP index: narrow ``(id, band, val)`` band-bucket rows.

    At scale this is a build-once artifact (persisted ``partitionBy(band)``
    parquet, rebuilt only when the corpus changes); in-session the registry
    persists it once per (session, sf) like the IVF index, so the
    registered query times the QUERY path, not an index rebuild.

    ``spread=True`` fans the scan out before the signature projection —
    the 16 per-plane dot-product folds are the expensive part of the
    build, and a single-file local scan would otherwise compute them in
    one task.  (fan_out repartitions vectors, sanctioned for small inputs
    only; a real multi-file scan already has enough splits and fan_out is
    a no-op.)

    Band values are BAND-SLICED: band i is packed directly from planes
    ``[i*bpb, (i+1)*bpb)`` with local weights ``2^0..2^(bpb-1)`` — never
    through one global packed signature.  That removes the old
    ``bands*bpb <= 63`` BIGINT-packing cap (round-9 verdict: the cap
    froze the adaptive width at n ~ 524k and sent candidate mass
    quadratic at the 1000x decade); the only remaining limit is
    ``bpb <= 63`` per band, far past any corpus this engine targets.
    Bit-identical to the packed form wherever both fit: band i of the
    packed sig was ``(sig >> i*bpb) & (2^bpb - 1)``, i.e. exactly planes
    ``i*bpb..i*bpb+bpb-1`` at weights ``2^0..``.  Same total dot-product
    work (each plane feeds exactly one band).
    """
    assert n_bits % bands == 0
    bits_per_band = n_bits // bands
    assert bits_per_band <= 63, "band value must fit a BIGINT"
    planes = srp_planes(dim, n_bits, seed)
    src = df.select(F.col(id_col), F.col(vec_col))
    if spread:
        from ..partitioning import fan_out

        src = fan_out(src, id_col)
    bandcols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                srp_signature(
                    vec_col, planes[i * bits_per_band : (i + 1) * bits_per_band]
                ).alias("val"),
            )
            for i in range(bands)
        ]
    )
    return src.select(F.col(id_col), F.explode(bandcols).alias("bv")).select(
        id_col, F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )


def srp_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: str = "srp",
    dim: int = 64,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Approximate per-query top-k via SRP band buckets + exact rescore.

    Candidates = (query, id) pairs agreeing on ≥1 of ``bands`` signature
    bands (classic banding; a high-cosine pair agrees on most sign bits so
    some band matches with high probability).  Candidates are narrow id
    pairs; vectors are never exploded or shuffled — the rescore joins the
    (small, broadcastable) candidate set back to the scan.

    ``index_bands``: a prebuilt ``srp_band_table`` for the corpus side
    (the amortized index).  When None, it is derived inline.
    """
    qb = srp_band_table(queries, query_id_col, query_vec_col, n_bits, bands, seed, dim)
    ib = (
        index_bands
        if index_bands is not None
        else srp_band_table(emb, id_col, vec_col, n_bits, bands, seed, dim, spread=True)
    )
    cand = (
        qb.join(ib, ["band", "val"])
        .select(query_id_col, id_col)
        .distinct()
    )
    return exact_rescore_topk(
        emb, cand, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )


def exact_rescore_topk(
    emb: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, id, score, rank): the exact rescore every ANN path ends
    in.  Each ``(query_id, id)`` candidate pair is scored by dot product of
    its index vector and its query vector; each query keeps its top ``k``,
    ties broken by id.  The candidate pairs and the query vectors are
    broadcast into the index scan, so vectors never cross an exchange at
    scale."""
    qv = queries.select(query_id_col, F.col(query_vec_col).alias("__qvec"))
    # two SEPARATE broadcasts: the narrow (query, id) pair set and the tiny
    # query-vector table.  Broadcasting their join instead would replicate a
    # query vector onto every candidate pair — |cand| × dim floats over the
    # wire for no benefit.
    # fan the corpus side out before the rescore: a broadcast join preserves
    # the scan's partitioning, so a single-file local scan would otherwise
    # evaluate every candidate dot-product fold in one task (same
    # small-input-only repartition note as srp_band_table)
    from ..partitioning import fan_out

    scored = (
        fan_out(emb.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(cand), id_col)
        .join(F.broadcast(qv), query_id_col)
        .withColumn("score", dot_product(F.col(vec_col), F.col("__qvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.select(query_id_col, id_col, "score")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _top_candidates(approx: DataFrame, score_col: str, n: int, id_col: str) -> DataFrame:
    """(query_id, id): each query's ``n`` best approximate candidates by
    ``score_col``, ties broken by id (a WindowGroupLimit)."""
    return (
        approx.withColumn(
            "cand_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc(id_col))
            ),
        )
        .filter(F.col("cand_rank") <= n)
        .select("query_id", id_col)
    )


def sq_stats(emb: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, scale) for int8 scalar quantization, where
    ``scale = (max - min) / 255`` (0.0 for constant dimensions).

    One posexplode + partial-combined min/max aggregate — the exchange is
    O(dims) rows, and only O(dims) scalars ever reach the driver (same
    bounded-collect contract as IVF centroids).  min/max are exact under
    any reduction order, so the constants — and everything derived from
    them — are reproducible bit-for-bit by the DuckDB oracle."""
    rows = (
        emb.select(F.posexplode(vec_col).alias("j", "x"))
        .groupBy("j")
        .agg(F.min(F.col("x").cast("double")).alias("mn"),
             F.max(F.col("x").cast("double")).alias("mx"))
        .collect()
    )
    by_j = {r["j"]: (r["mn"], r["mx"]) for r in rows}
    mins = [by_j[j][0] for j in range(len(by_j))]
    scales = [(by_j[j][1] - by_j[j][0]) / 255.0 for j in range(len(by_j))]
    return mins, scales


def sq_code_table(
    emb: DataFrame,
    mins: list,
    scales: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to int8 codes: ``floor((x-min)/scale + 0.5)``
    clamped to [0, 255] (constant dims → 0).  This is the 4-8× memory
    compression leg of a vector index — at 100 TB the code table is what
    stays resident (packed bytes in parquet) while float vectors are only
    fetched for the final rescore.  Pure ``transform`` expressions: the
    whole encode runs in whole-stage codegen, embarrassingly parallel."""
    code = F.transform(
        F.col(vec_col),
        lambda x, j: F.when(
            F.element_at(F.array(*[F.lit(s) for s in scales]), (j + 1).cast("int"))
            == 0.0,
            F.lit(0).cast("long"),
        ).otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (
                            x.cast("double")
                            - F.element_at(
                                F.array(*[F.lit(m) for m in mins]), (j + 1).cast("int")
                            )
                        )
                        / F.element_at(
                            F.array(*[F.lit(s) for s in scales]), (j + 1).cast("int")
                        )
                        + F.lit(0.5)
                    ),
                ),
            )
        ),
    )
    return emb.select(F.col(id_col), code.alias("codes"))


def sq_topk(
    codes: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    mins: list,
    scales: list,
    k: int = 10,
    rescore: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization ANN: score DEQUANTIZED codes against the query
    (4-8× less data scanned than float vectors), keep the top ``rescore``
    candidates per query, exact-rescore only those against the float
    vectors, return the exact top ``k``.

    Scale: the approximate pass is a broadcast-queries × codes scan with a
    WindowGroupLimit top-``rescore`` — no shuffle of codes or vectors; the
    exact pass broadcasts the O(queries × rescore) candidate ids into the
    float-table scan (``exact_rescore_topk``).
    Both passes use the same ordered fold as exact KNN, so every score is
    reproducible bit-for-bit (ties broken by id)."""
    dq = F.transform(
        F.col("codes"),
        lambda c, j: F.element_at(F.array(*[F.lit(m) for m in mins]), (j + 1).cast("int"))
        + c.cast("double")
        * F.element_at(F.array(*[F.lit(s) for s in scales]), (j + 1).cast("int")),
    )
    approx = (
        codes.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            F.col(id_col),
            dot_product(dq, F.col("query_vec")).alias("approx_score"),
        )
    )
    cand = _top_candidates(approx, "approx_score", rescore, id_col)
    return exact_rescore_topk(emb, cand, queries, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) with hash-sampled codebooks — the 4th ANN path
# (IVF / SRP-LSH / int8-SQ / PQ), and like SRP/SQ it is fully
# SQL-expressible: codebooks are deterministic order-statistics samples
# (the PQ_CODES corpus vectors with smallest md5(id), split into
# subvectors), so the ENTIRE approximate pipeline — codebook choice,
# per-subspace assignment, LUT scoring, candidate ranks — has a bit-exact
# DuckDB twin.  (Lloyd-refined codebooks would buy ~5pt recall at the cost
# of the oracle; the SQ path already demonstrates trained quantization.)
# ---------------------------------------------------------------------------
PQ_SUB = 8          # subspaces
PQ_CODES = 32       # codes per subspace (hash-sampled corpus rows)
PQ_DIM = 64         # full dimension; PQ_SD = PQ_DIM // PQ_SUB per subspace
PQ_SD = PQ_DIM // PQ_SUB
PQ_RESCORE = 100    # approx candidates exact-rescored per query


def _sub(col, s: int):
    return F.slice(col, s * PQ_SD + 1, PQ_SD)


def pq_codebook(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(code, cvec): the PQ_CODES vectors with smallest (md5(id), id) —
    same reproducible order-statistics sample as ``ivf_centroids``;
    TakeOrderedAndProject, then a window over the surviving rows only."""
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(PQ_CODES)
        .select(
            (
                F.row_number().over(
                    Window.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
                )
                - 1
            ).alias("code"),
            F.col(vec_col).alias("cvec"),
        )
    )


def pq_encode(emb: DataFrame, codebook: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, c0..c{PQ_SUB-1}): nearest code per subspace, by squared L2 via
    the |c|² − 2a·c identity (the |a|² term is constant per (vector,
    subspace) and cancels in argmin) — ties break on code.  The corpus ×
    codebook pairing is a broadcast nested-loop over PQ_CODES rows; the
    per-vector fold is F.min over a (distance, code) struct, lexicographic
    = exactly DuckDB's first(code ORDER BY d, code)."""
    # |c|² depends only on the code — precompute it on the (tiny)
    # broadcast side instead of once per (corpus vector, code) pair;
    # identical expression over identical values, so the floats (and the
    # downstream argmin codes) are bit-unchanged, at half the encode FLOPs
    cb2 = codebook.select(
        "code",
        "cvec",
        *[
            dot_product(_sub(F.col("cvec"), s), _sub(F.col("cvec"), s)).alias(
                f"__cc{s}"
            )
            for s in range(PQ_SUB)
        ],
    )
    joined = emb.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(cb2))
    dcols = []
    for s in range(PQ_SUB):
        ac = dot_product(_sub(F.col(vec_col), s), _sub(F.col("cvec"), s))
        dcols.append((F.col(f"__cc{s}") - 2.0 * ac).alias(f"d{s}"))
    dists = joined.select(id_col, "code", *dcols)
    aggs = [
        F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("code").alias("c")))
        .getField("c")
        .alias(f"c{s}")
        for s in range(PQ_SUB)
    ]
    return dists.groupBy(id_col).agg(*aggs)


def _pq_lut_long(qids: DataFrame, codebook: DataFrame) -> DataFrame:
    """(query_id, s, code, l): each query's PQ_SUB×PQ_CODES ADC lookup table of
    qsub·csub dot products, in LONG form.  One (s, code)-keyed broadcast
    join instead of PQ_SUB chained joins — a chain of per-subspace joins
    invites the optimizer to pair the LUT relations with each other first
    (they only constrain through the codes row), a combinatorial blow-up
    the long form makes impossible by construction."""
    return (
        qids.crossJoin(F.broadcast(codebook))
        .select(
            "query_id",
            "code",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            dot_product(
                                _sub(F.col("query_vec"), s), _sub(F.col("cvec"), s)
                            ).alias("l"),
                        )
                        for s in range(PQ_SUB)
                    ]
                )
            ).alias("sl"),
        )
        .select("query_id", F.col("sl.s").alias("s"), "code", F.col("sl.l").alias("l"))
    )


def _pq_codes_long(codes: DataFrame, id_col: str) -> DataFrame:
    """(id, s, code): the c0..c{PQ_SUB-1} code columns exploded to one row
    per subspace, the join side of the long-form LUT."""
    return codes.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("s"), F.col(f"c{s}").alias("code"))
                    for s in range(PQ_SUB)
                ]
            )
        ).alias("sc"),
    ).select(id_col, F.col("sc.s").alias("s"), F.col("sc.code").alias("code"))


def _adc_fold(looked_up: DataFrame, id_col: str, start: str | None = None) -> DataFrame:
    """(id, query_id[, start], a): approximate score per (vector, query) pair —
    the pair's LUT terms folded in fixed subspace order (sort by s, then
    add), bit-identical to the oracle's list_reduce(list_prepend(start,
    list(l ORDER BY s))).  The fold starts from 0.0, or from the per-pair
    ``start`` column (kept as a grouping key) when there is a base term."""
    keys = [id_col, "query_id"] + ([start] if start else [])
    return looked_up.groupBy(*keys).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("l")))),
            F.col(start) if start else F.lit(0.0),
            lambda acc, x: acc + x["l"],
        ).alias("a")
    )


def pq_topk(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rescore: int = PQ_RESCORE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search: per query a PQ_SUB×PQ_CODES LUT of
    qsub·csub dot products (tiny, broadcast), approximate score =
    l0+…+l{PQ_SUB-1} looked up by each vector's codes, top-``rescore``
    per query (WindowGroupLimit), exact dot-product rescore, top-k.

    Scale: vectors are touched only (a) once at encode time and (b) for
    the |queries|·rescore exact rescores — the approximate scan reads the
    PQ_SUB-byte codes, an 8-byte-per-vector scan where the raw corpus is
    256 bytes/vector, the classic PQ memory story.  All joins against
    LUT/codebook/queries broadcast; candidates are narrow id rows."""
    qids = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    looked_up = _pq_codes_long(codes, id_col).join(
        F.broadcast(_pq_lut_long(qids, codebook)), ["s", "code"]
    )
    cand = _top_candidates(_adc_fold(looked_up, id_col), "a", rescore, id_col)
    return exact_rescore_topk(emb, cand, qids, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file pruning composed with PQ asymmetric-distance
# scoring — the FAISS "IVFx,PQy" layout.  Unlike ivf_topk (Lloyd-refined
# centroids, numpy assignment, hence rows-only checked), the coarse
# quantizer here is the same reproducible hash-sample used by pq_codebook,
# so the ENTIRE composed index — cell assignment, probe set, ADC scores,
# candidate ranks — is SQL-expressible and verified bit-exactly in DuckDB.
# ---------------------------------------------------------------------------
IVFPQ_CELLS = 16     # coarse cells (hash-sampled corpus rows)
IVFPQ_NPROBE = 4     # cells probed per query
IVFPQ_RESCORE = 40   # ADC candidates exact-rescored per query


def coarse_cells(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(cell, cenvec): IVFPQ_CELLS corpus rows with smallest
    (md5('ivf:'||id), id) — a distinct seed from pq_codebook so the coarse
    and fine quantizers sample independent rows."""
    key = F.md5(F.concat(F.lit("ivf:"), F.col(id_col).cast("string")))
    return (
        emb.select(F.col(id_col), F.col(vec_col), key.alias("__k"))
        .orderBy("__k", id_col)
        .limit(IVFPQ_CELLS)
        .select(
            (F.row_number().over(Window.orderBy("__k", id_col)) - 1).alias("cell"),
            F.col(vec_col).alias("cenvec"),
        )
    )


def coarse_assign(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest coarse centroid by squared L2 via the
    |c|² − 2a·c identity (|a|² cancels in argmin), ties on cell — the
    lexicographic F.min(struct(d, cell)) ≡ DuckDB first(cell ORDER BY d,
    cell).  Broadcast nested-loop over IVFPQ_CELLS rows; at 100 TB this
    assignment is the partition key of the index table
    (write.partitionBy(cell) ⇒ probes become partition pruning)."""
    cc = dot_product(F.col("cenvec"), F.col("cenvec"))
    ac = dot_product(F.col(vec_col), F.col("cenvec"))
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cents))
        .select(id_col, "cell", (cc - 2.0 * ac).alias("d"))
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("d"), F.col("cell"))).getField("cell").alias("cell")
        )
    )


def _coarse_probe(qids: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, cell, qcen): each query's ``nprobe`` nearest coarse cells by
    the same |c|² − 2q·c identity as ``coarse_assign`` (ties on cell), with
    q·cen carried along for the residual fold; a caller that drops qcen
    gets it pruned from the plan."""
    cc = dot_product(F.col("cenvec"), F.col("cenvec"))
    qc = dot_product(F.col("query_vec"), F.col("cenvec"))
    wp = Window.partitionBy("query_id").orderBy("d", "cell")
    return (
        qids.crossJoin(F.broadcast(cents))
        .select("query_id", "cell", (cc - 2.0 * qc).alias("d"), qc.alias("qcen"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cell", "qcen")
    )


def ivfpq_topk(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVFPQ_NPROBE,
    rescore: int = IVFPQ_RESCORE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composed IVF-PQ search: probe the ``nprobe`` nearest coarse cells
    per query (same L2 identity as assignment), ADC-score ONLY the
    vectors assigned to probed cells via the PQ LUT, exact-rescore the
    top-``rescore``, emit top-k.

    Scale: the ADC scan touches |corpus|·nprobe/IVFPQ_CELLS code rows
    (8 bytes/vector) instead of the corpus — the multiplicative
    composition of IVF's pruning and PQ's compression; every
    centroid/LUT/query relation broadcasts, candidates stay narrow id
    rows, and both windows are WindowGroupLimit-bounded."""
    qids = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    probe = _coarse_probe(qids, cents, nprobe)
    cand_ids = assign.join(F.broadcast(probe), "cell").select("query_id", id_col)
    looked_up = cand_ids.join(_pq_codes_long(codes, id_col), id_col).join(
        F.broadcast(_pq_lut_long(qids, codebook)), ["query_id", "s", "code"]
    )
    cand = _top_candidates(_adc_fold(looked_up, id_col), "a", rescore, id_col)
    return exact_rescore_topk(emb, cand, qids, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ with RESIDUAL encoding — the layout FAISS actually ships as
# "IVFx,PQy": PQ codes quantize (vector − coarse centroid), not the raw
# vector.  Residuals are centered near 0 with much smaller spread than the
# vectors themselves, so the same code budget spends its resolution on the
# within-cell geometry — this is what holds recall at high compression.
# The decomposition q·v = q·cen(cell) + q·residual makes ADC exact in the
# reconstruction: approximate score = q·cen + Σ_s LUT[s, code_s] over the
# RESIDUAL codebook.  Codebook stays a deterministic hash sample (of
# residual rows, seed 'pqr:'), so the whole composed path keeps a bit-exact
# DuckDB twin like the non-residual ivfpq_topk above.
# ---------------------------------------------------------------------------
def residual_table(
    emb: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, rvec): per-vector residual vs its coarse centroid.
    Element-wise double subtraction (each lane one IEEE op — exact and
    engine-portable); broadcast of the IVFPQ_CELLS centroid rows."""
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .join(assign, id_col)
        .join(F.broadcast(cents), "cell")
        .select(
            id_col,
            "cell",
            F.zip_with(
                F.col(vec_col),
                F.col("cenvec"),
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("rvec"),
        )
    )


def residual_codebook(resid: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(code, cvec): the PQ_CODES RESIDUAL rows with smallest
    (md5('pqr:'||id), id) — seed distinct from both pq_codebook and the
    coarse sampler, so all three quantizers sample independent rows."""
    key = F.md5(F.concat(F.lit("pqr:"), F.col(id_col).cast("string")))
    return (
        resid.select(F.col(id_col), F.col("rvec"), key.alias("__k"))
        .orderBy("__k", id_col)
        .limit(PQ_CODES)
        .select(
            (F.row_number().over(Window.orderBy("__k", id_col)) - 1).alias("code"),
            F.col("rvec").alias("cvec"),
        )
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVFPQ_NPROBE,
    rescore: int = IVFPQ_RESCORE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual IVF-PQ search: probe the ``nprobe`` nearest coarse cells,
    ADC-score candidates as q·cen(cell) + Σ_s LUT[s, code_s] over the
    residual codebook, exact-rescore the top-``rescore``, emit top-k.

    The q·cen base term rides along from the probe step (it is already a
    per-(query, cell) scalar there), so the residual decomposition costs
    nothing extra at search time; everything else matches ivfpq_topk's
    shapes — broadcast LUT/centroids, narrow candidate rows, two
    WindowGroupLimit tops.  The ordered fold starts FROM the base term
    (list_prepend(q·cen, ...) in the oracle) so both engines add the
    subspace terms in the identical order."""
    qids = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    probe = _coarse_probe(qids, cents, nprobe)
    cand_ids = assign.join(F.broadcast(probe), "cell").select(id_col, "query_id", "qcen")
    looked_up = cand_ids.join(_pq_codes_long(codes, id_col), id_col).join(
        F.broadcast(_pq_lut_long(qids, codebook)), ["query_id", "s", "code"]
    )
    cand = _top_candidates(
        _adc_fold(looked_up, id_col, start="qcen"), "a", rescore, id_col
    )
    return exact_rescore_topk(emb, cand, qids, k, id_col, vec_col)
