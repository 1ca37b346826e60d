"""Registry entries: multimodal decode plumbing and approximate vector
search (IVF, SRP-LSH, int8-SQ, PQ, IVF-PQ).  Every query but the two
Lloyd-refined IVF ones has a bit-exact DuckDB oracle; those two are
deterministic, so the driver's rows-only checks are stable across runs."""

from __future__ import annotations

import hashlib as _hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import artifact, register
from .functions.scalar import round4, salted_hash, salted_hash_sql
from .operators.ann import (
    IVFPQ_CELLS,
    IVFPQ_NPROBE,
    IVFPQ_RESCORE,
    PQ_CODES,
    PQ_RESCORE,
    PQ_SD,
    PQ_SUB,
    coarse_assign,
    coarse_cells,
    ivf_build,
    ivf_query,
    ivfpq_topk,
    pq_codebook,
    pq_encode,
    pq_topk,
    srp_band_table,
    srp_planes,
    srp_topk,
)
from .sources.tables import load_table as __load

# --- SRP-LSH oracle SQL, generated from the SAME md5-derived hyperplane
# constants the Spark operator uses (repr round-trips doubles exactly) -------
_SRP_BITS, _SRP_BANDS, _SRP_DIM = 16, 4, 64
_SRP_MASK = (1 << (_SRP_BITS // _SRP_BANDS)) - 1
_PLANES = srp_planes(_SRP_DIM, _SRP_BITS)

_SQL_SRP_SIG = " + ".join(
    "CASE WHEN list_dot_product(embedding::DOUBLE[], [{vals}]) >= 0 "
    "THEN {w}::BIGINT ELSE 0 END".format(
        vals=", ".join(repr(x) for x in plane), w=1 << b
    )
    for b, plane in enumerate(_PLANES)
)
_SQL_SRP_BANDS = ", ".join(
    f"(sig >> {i * (_SRP_BITS // _SRP_BANDS)}) & {_SRP_MASK} AS b{i}"
    for i in range(_SRP_BANDS)
)
_SQL_SRP_CAND = " UNION ".join(
    f"SELECT q.query_id, i.vec_id FROM qb q JOIN ib i ON q.b{i} = i.b{i}"
    for i in range(_SRP_BANDS)
)
# DuckDB twin of `operators.ann.exact_rescore_topk`, the exact rescore every
# bit-exact ANN oracle ends in: `rescored` holds each query's top 10 (the k
# of every caller) of the (query_id, vec_id) pairs in `cand`, scored by dot
# product with the query's own embeddings row; ties break on vec_id.
_SQL_RESCORED = """rescored AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY raw DESC, vec_id) AS rank
        FROM (
          SELECT c.query_id, c.vec_id,
                 list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS raw
          FROM cand c
          JOIN embeddings e ON c.vec_id = e.vec_id
          JOIN embeddings q ON c.query_id = q.vec_id))
      WHERE rank <= 10)"""


def _sql_top_cand(src: str, score: str, n: int) -> str:
    """cand: each query's top ``n`` rows of ``src`` by ``score``, ties on
    vec_id (`operators.ann._top_candidates`)."""
    return f"""cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {score} DESC, vec_id) AS rn
        FROM {src})
      WHERE rn <= {n})"""


_SRP_ORACLE = f"""
    WITH sig AS (
      SELECT vec_id, ({_SQL_SRP_SIG}) AS sig FROM embeddings),
    qb AS (SELECT vec_id AS query_id, {_SQL_SRP_BANDS} FROM sig WHERE vec_id < 20),
    ib AS (SELECT vec_id, {_SQL_SRP_BANDS} FROM sig),
    cand AS ({_SQL_SRP_CAND}),
    {_SQL_RESCORED}
    SELECT query_id, vec_id,
           floor((raw)*10000 + 0.5)/10000.0 AS score,
           rank::INTEGER AS rank
    FROM rescored
    """

# IVF index artifact: the build (centroid sample + Lloyd refine +
# assignment) is the amortizable part — at 100 TB it's a persisted
# partitionBy(cell) table; in-session a persisted DataFrame plays that role
# so the registered query measures the QUERY path, not an index rebuild.
@artifact()
def _shared_ivf_index(spark: SparkSession, sf_dir: str):
    emb = __load(spark, sf_dir, "embeddings")
    cent_mat, indexed = ivf_build(emb, n_centroids=16, replicas=2)
    indexed = indexed.persist()
    indexed.count()
    return cent_mat, indexed


@register(
    "multimodal_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS hx, strlen(text)::INT AS n_bytes
      FROM documents
    )
    SELECT doc_id,
           'image/fake' AS mime,
           n_bytes,
           (('0x' || substr(hx, 1, 2))::INT * 8 + 1)::INT AS width,
           (('0x' || substr(hx, 3, 2))::INT * 8 + 1)::INT AS height,
           i::INT AS feat_idx,
           floor(((('0x' || substr(hx, 2*i + 1, 2))::INT / 255.0) * 2.0 - 1.0)
                 * 10000 + 0.5) / 10000.0 AS feat_value
    FROM d CROSS JOIN range(16) t(i)
    ORDER BY doc_id, feat_idx
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake decode/feature extraction over the synthesized
    binary payloads, fully NATIVE since round 11 (guide §4.1): the stub
    "codec" is pure md5 byte math, so the whole pipeline is Catalyst
    expressions — md5 → hex-pair parse → the same (b/255)·2−1 formula in
    identical IEEE order — and the ArrowEvalPython node (plus its
    fan_out exchange) is gone from the plan.  The mapInPandas seam
    (`operators.multimodal.decode_image_features`) remains the operator a
    REAL codec (PIL) plugs into and keeps its own tests; this registered
    query measures the query path, which for the md5 stub needs no
    Python boundary at all.  Results are bit-identical (same formula,
    same order) and oracle-checked as before.

    Features stay EXPLODED to scalar ``(feat_idx, feat_value)`` rows so
    the result is canonicalizable (array cells aren't sortable).
    """
    docs = __load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    hx = F.md5(payload)
    ex = docs.select(
        "doc_id",
        F.lit("image/fake").alias("mime"),
        F.octet_length(payload).alias("n_bytes"),
        hx.alias("hx"),
    ).select(
        "doc_id",
        "mime",
        "n_bytes",
        (F.conv(F.substring("hx", 1, 2), 16, 10).cast("int") * 8 + 1)
        .cast("int")
        .alias("width"),
        (F.conv(F.substring("hx", 3, 2), 16, 10).cast("int") * 8 + 1)
        .cast("int")
        .alias("height"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, 15), i ->"
                " (CAST(conv(substring(hx, 2*i + 1, 2), 16, 10) AS DOUBLE)"
                "  / 255.0) * 2.0 - 1.0)"
            )
        ).alias("feat_idx", "feat_value"),
    )
    return ex.select(
        "doc_id",
        "mime",
        "n_bytes",
        "width",
        "height",
        "feat_idx",
        round4("feat_value").alias("feat_value"),
    ).orderBy("doc_id", "feat_idx")


@register("ann_ivf_topk")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for 20 queries (deterministic centroids + Lloyd
    refinement; approximate ⇒ no SQL oracle, recall pinned in pytest)."""
    cent_mat, indexed = _shared_ivf_index(spark, sf_dir)
    # query batch drawn from the persisted index (no parquet re-scan;
    # replicas deduped) — same vectors as the embeddings table
    queries = (
        indexed.filter(F.col("vec_id") < 20)
        .dropDuplicates(["vec_id"])
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    out = ivf_query(indexed, cent_mat, queries, k=10, nprobe=8)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


@register("ann_ivf_probe_sweep")
def q_ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-nprobe curve (VERDICT-r6 #5): recall@10 of the IVF
    path at nprobe ∈ {1, 2, 4, 8, 16} against exact KNN ground truth,
    for the 20 standard query vectors — the tuning curve an ANN
    deployment reads to pick its latency/recall operating point.  At
    nprobe = 16 every cell is probed, so recall MUST be exactly 1.0
    (probing all cells IS the exact scan) — pinned in pytest as the
    self-validating end of the curve, alongside monotonicity in nprobe.

    Rows-only (like `ann_ivf_topk`: Lloyd-refined centroids aren't
    SQL-expressible), but the output is exact rational arithmetic —
    matched/200 — so the values are deterministic and golden-pinnable.

    Scale: the sweep reuses the session-shared IVF index (the amortized
    build) and — since round 11 — scores every probed cell ONCE: each
    query's 16 cells carry their probe rank, a candidate's ENTRY LEVEL
    is its minimum probe rank over the cells that contain it, and the
    five legs are `entry <= nprobe` filters of that one scored table
    (guide §1.2: the old shape ran five independent ivf_query plans —
    5 probe collects, 5 scored joins, 5 windows — recomputing the
    nprobe=16 superset's work up to 5×).  A candidate enters leg n iff
    one of its cells is among the query's top-n probes, which is exactly
    the per-leg candidate set; scores are identical dot products, so
    each leg's top-10 is unchanged row-for-row.  Ground truth is one
    broadcast-queries exact scan, bounded by the query set.
    """
    from .operators.ann import ivf_probe_sweep_topk
    from .operators.knn import similarity_join

    emb = __load(spark, sf_dir, "embeddings")
    cent_mat, indexed = _shared_ivf_index(spark, sf_dir)
    queries = (
        indexed.filter(F.col("vec_id") < 20)
        .dropDuplicates(["vec_id"])
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    exact = similarity_join(emb, queries, k=10).select("query_id", "vec_id")
    sweep = (1, 2, 4, 8, 16)
    # one scored pass shared across legs — the probe model lives in
    # operators/ann.ivf_probe_sweep_topk, the SAME module as ivf_query, so
    # the sweep cannot silently desynchronize from the single-leg path
    # (ADVICE r11); leg-for-leg equality is pinned in pytest
    topk = ivf_probe_sweep_topk(indexed, cent_mat, queries, sweep=sweep, k=10).select(
        "nprobe", F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vec")
    )
    n_expected = 20 * 10
    return (
        exact.join(
            topk,
            (exact.query_id == topk.a_qid) & (exact.vec_id == topk.a_vec),
            "inner",
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("matched"))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "matched",
            round4(F.col("matched") / float(n_expected)).alias("recall_at_10"),
        )
        .orderBy("nprobe")
    )


# SRP band-bucket index artifact — same amortized-index model as the IVF
# index: the 16 hyperplane-projection folds over the corpus are the build
# cost (a partitionBy(band) parquet at scale); the registered query times
# banding 20 query vectors + candidate join + exact rescore.
@artifact()
def _shared_srp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = __load(spark, sf_dir, "embeddings")
    return srp_band_table(
        emb, "vec_id", "embedding", _SRP_BITS, _SRP_BANDS, dim=_SRP_DIM, spread=True
    )


@register("ann_srp_topk", oracle=_SRP_ORACLE)
def q_ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN top-10 for 20 queries: signed-random-projection band
    buckets → exact rescore.  The hyperplanes are md5-derived constants, so
    unlike IVF the whole approximate pipeline is SQL-expressible and this
    ANN entry is verified bit-exactly against DuckDB (candidates AND
    ranks), not just rows-only.  The corpus-side band table comes from the
    session-shared SRP index (amortized build, like IVF)."""
    emb = __load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = srp_topk(
        emb, queries, k=10, n_bits=_SRP_BITS, bands=_SRP_BANDS, dim=_SRP_DIM,
        index_bands=_shared_srp_index(spark, sf_dir),
    )
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


@register(
    "media_sampling_plan",
    oracle="""
    WITH m AS (SELECT doc_id, (doc_id % 120 + 1)::BIGINT AS dur FROM documents),
    fr AS (SELECT doc_id, unnest(range(0, dur*30, 30)) AS fi FROM m),
    fra AS (
      SELECT doc_id, count(*)::BIGINT AS n_frames,
             max(fi)::BIGINT AS last_frame_index,
             floor((max(fi)/30.0)*10000 + 0.5)/10000.0 AS last_frame_ts
      FROM fr GROUP BY doc_id),
    sg AS (SELECT doc_id, dur, unnest(range(0, dur, 25)) AS ss FROM m),
    sga AS (
      SELECT doc_id, count(*)::BIGINT AS n_segments,
             max(least(ss + 30, dur))::BIGINT AS last_seg_end
      FROM sg GROUP BY doc_id)
    SELECT m.doc_id, m.dur AS duration_sec,
           fra.n_frames, fra.last_frame_index, fra.last_frame_ts,
           sga.n_segments, sga.last_seg_end
    FROM m JOIN fra USING (doc_id) JOIN sga USING (doc_id)
    ORDER BY m.doc_id
    """,
)
def q_media_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling + audio segmentation PLAN (metadata math, no
    decode): every 30th frame at 30 fps and 30 s segments with 5 s overlap
    over a per-doc synthetic duration (doc_id % 120 + 1 s, shared with the
    oracle).  This is the scheduling half of a multimodal pipeline — the
    rows it emits are exactly the decode tasks a `decode_image_features`-
    shaped pass would fan out over.

    Scale: `sequence`/`explode` are native (rows never leave the JVM);
    the per-doc aggregates collapse the explosion back map-side, so the
    exchange is O(docs).  The decode itself stays the Arrow-batched
    mapInPandas seam (`multimodal_features`); sampling cost is metadata-
    only regardless of payload size."""
    from .operators.multimodal import sample_frames, segment_audio

    docs = __load(spark, sf_dir, "documents")
    meta = docs.select(
        "doc_id",
        ((F.col("doc_id") % 120) + 1).cast("double").alias("duration_sec"),
        F.lit(30.0).alias("fps"),
    )
    fr = (
        sample_frames(meta, every_n=30)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_index").alias("last_frame_index"),
            round4(F.max("frame_ts_sec")).alias("last_frame_ts"),
        )
    )
    sg = (
        segment_audio(meta, segment_sec=30, overlap_sec=5)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.max("seg_end_sec").alias("last_seg_end"),
        )
    )
    return (
        meta.select("doc_id", F.col("duration_sec").cast("long").alias("duration_sec"))
        .join(fr, "doc_id")
        .join(sg, "doc_id")
        .orderBy("doc_id")
    )


# SQ code-table artifact — same amortized-index model: quantization
# constants + int8 codes are the build (a packed-bytes parquet at scale);
# the registered query times approximate scan + exact rescore.
@artifact()
def _shared_sq_index(spark: SparkSession, sf_dir: str):
    from .operators.ann import sq_code_table, sq_stats

    emb = __load(spark, sf_dir, "embeddings")
    mins, scales = sq_stats(emb)
    codes = sq_code_table(emb, mins, scales).persist()
    codes.count()
    return mins, scales, codes


def _sq_oracle(n_queries: int, where: str = "") -> str:
    """DuckDB twin of `sq_topk` over the embeddings that pass ``where``
    (all of them when empty), for the queries ``vec_id < n_queries``: int8
    codes from corpus-level (min, scale) constants, the dequantized
    approximate scan, the top-40 candidates and the exact top-10 rescore."""
    where = f" WHERE {where}" if where else ""
    return f"""
    WITH dims AS (SELECT unnest(range(1, 65)) AS j),
    st AS (
      SELECT j, min(embedding[j]::DOUBLE) AS mn, max(embedding[j]::DOUBLE) AS mx
      FROM embeddings, dims GROUP BY j),
    sc AS (SELECT j, mn, (mx - mn) / 255.0 AS s FROM st),
    filt AS (SELECT vec_id FROM embeddings{where}),
    cd AS (
      SELECT e.vec_id, sc.j, sc.mn, sc.s,
             CASE WHEN sc.s = 0.0 THEN 0.0
                  ELSE least(255, greatest(0,
                         floor((e.embedding[sc.j]::DOUBLE - sc.mn) / sc.s + 0.5))) END AS c
      FROM embeddings e JOIN filt f ON e.vec_id = f.vec_id, sc),
    dql AS (SELECT vec_id, list(mn + c * s ORDER BY j) AS dq FROM cd GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {n_queries}),
    ap AS (
      SELECT q.query_id, d.vec_id,
             list_dot_product(d.dq, q.embedding::DOUBLE[]) AS approx_score
      FROM dql d CROSS JOIN q),
    {_sql_top_cand("ap", "approx_score", 40)},
    {_SQL_RESCORED}
    SELECT query_id, vec_id,
           floor(raw * 10000 + 0.5) / 10000.0 AS score,
           rank::INTEGER AS rank
    FROM rescored
    """


@register("ann_sq_topk", oracle=_sq_oracle(20))
def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization ANN top-10 for 20 queries: per-dimension
    (min, scale) constants → int8 codes → dequantized approximate scan →
    exact rescore of the top 40.  The compression pipeline is pure
    min/max + floor math, so — like SRP and unlike IVF — the whole
    approximate path has a bit-exact DuckDB oracle (candidates AND ranks).
    The code table comes from the session-shared SQ index (amortized
    build; packed-bytes parquet at scale)."""
    from .operators.ann import sq_topk

    emb = __load(spark, sf_dir, "embeddings")
    mins, scales, codes = _shared_sq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sq_topk(codes, emb, queries, mins, scales, k=10, rescore=40)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


# ---------------------------------------------------------------------------
# SRP-bucketed embedding near-dup: the LSH-candidate scale path for
# semantic dedup (vs dedup_embedding_cosine's exact block-sharded scan).
# ---------------------------------------------------------------------------
_SQL_SRP_PAIR_CAND = " UNION ".join(
    f"SELECT a.vec_id AS id_1, b.vec_id AS id_2 FROM bt a "
    f"JOIN bt b ON a.b{i} = b.b{i} AND a.vec_id < b.vec_id"
    for i in range(_SRP_BANDS)
)

# Demonstrator corpus cap for the deliberately-narrow-band demo (same
# bounded-eval shape as knn_loo_eval's LOO_CAP): 4,000 lowest vec_ids.
_SRP_DEMO_CAP = 4000

# Scale-ADAPTIVE wide banding (4 bands, independent 'srpw' planes): the
# production semantic-dedup path.  With B-bit bands a random pair collides
# with probability ~bands·2^-B, so candidate-pair counts grow ~n²·2^-B.
# Round 5 measured the fixed 4-bit banding quadratic (95× at the decade);
# round 6's fixed 8-bit banding exhausted spill disk at the 100× fixture —
# the documented rule "band bits ∝ log₂(corpus)" is now CODE, not prose:
#
#     band_bits = clamp(bit_length(n) − 4,  4, 40)
#
# i.e. per-row random collisions per band ≈ n·2^-bits ∈ [8, 16), so the
# candidate set stays ~8-16·bands·n rows at ANY corpus size (500 → 5 bits,
# 2k → 7, 20k → 11, 200k → 14, 2M → 17).  bit_length is the engine-portable
# exact integer log2: Python `n.bit_length()` ≡ DuckDB `length(bin(n))` for
# n ≥ 1 (no float log2 — libm rounding could disagree at decade boundaries).
# The hyperplanes are md5-derived per (seed, plane, component), so the
# 160-plane maximal set is PREFIX-STABLE: Spark materializes only the
# 4·bits planes it needs, the oracle computes all 160 and masks — plane j
# is bit-identical in both.
#
# Round 10: the cap is 40, raised from 15.  The old 15 existed only so
# 4 bands × 15 bits could pack into ONE BIGINT signature; past n ≈ 2^19 the
# width froze and candidate mass went quadratic again — measured 55.6×/decade
# at the 1000× fixture (VERDICT r9 #1: "every FIXED width is just a cliff
# placed at a different decade", and the cap WAS a fixed width).  Signatures
# are now BAND-SLICED — each band's value is packed independently from its
# own contiguous plane block (weights 2^0..2^(bits−1), `srp_band_table`), so
# the only packing limit is 63 bits PER BAND.  40 binds at n ≥ 2^43 ≈ 8.8
# trillion vectors ≈ 2.25 PB of raw fp32 embeddings — beyond the 100 TB
# design envelope by two orders of magnitude.  Gate fixtures (bits 5/7) and
# the 10×/100× decades (11/14) are bit-unchanged: the formula below only
# departs from the old one where the old cap bound, n ≥ 2^19.
_SRPW_BANDS, _SRPW_MIN_BB, _SRPW_MAX_BB = 4, 4, 40
_PLANES_W = srp_planes(_SRP_DIM, _SRPW_BANDS * _SRPW_MAX_BB, seed="srpw")
# Plane-sign LIST for the oracle: entry j (1-based j+1) = [dot(v, plane_j) ≥ 0].
_SQL_SRPW_SIGARR = "[" + ", ".join(
    "list_dot_product(embedding::DOUBLE[], [{vals}]) >= 0".format(
        vals=", ".join(repr(x) for x in plane)
    )
    for plane in _PLANES_W
) + "]"
_SQL_SRPW_CFG = (
    f"SELECT LEAST({_SRPW_MAX_BB}, GREATEST({_SRPW_MIN_BB}, "
    f"length(bin(COUNT(*)::BIGINT)) - 4))::BIGINT AS bits FROM embeddings"
)
# Data-dependent band-sliced values: band i of a row packs plane signs
# [i·bits, (i+1)·bits) at weights 2^0..2^(bits−1) — the same contiguous
# layout the old packed-BIGINT extraction `(sig >> i·bits) & mask` read,
# so values are bit-identical wherever both representations fit.
# `range(0, bits)` + `list_transform` keep the width data-dependent in
# static SQL; one equi-join on (band, val) replaces the per-band UNION
# (identical pair set after the downstream DISTINCT).
_SQL_SRPW_BT = f"""
    sg AS MATERIALIZED (
      SELECT vec_id, {_SQL_SRPW_SIGARR} AS s FROM embeddings),
    bt AS MATERIALIZED (
      SELECT g.vec_id, bd.band,
             list_sum(list_transform(range(0, cfg.bits),
               k -> CASE WHEN g.s[bd.band * cfg.bits + k + 1]
                         THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS val
      FROM sg g, cfg, (SELECT unnest([0, 1, 2, 3]) AS band) bd)
"""
_SQL_SRPW_PAIR_CAND = (
    "SELECT a.vec_id AS id_1, b.vec_id AS id_2 FROM bt a JOIN bt b "
    "ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id"
)


def _srpw_band_bits(n: int) -> int:
    """Adaptive SRP band width — same formula as _SQL_SRPW_CFG."""
    return min(_SRPW_MAX_BB, max(_SRPW_MIN_BB, n.bit_length() - 4))


@artifact()
def _shared_srpw_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(band table, embeddings COUNT(*)) — the wide-band SRP index and the
    corpus count its band width was sized from."""
    emb = __load(spark, sf_dir, "embeddings")
    # One count() prices the corpus at index-build time (cheap parquet
    # metadata scan) — exactly how dedup.py's cosine blocking sizes its
    # buckets.  Unlike bucket count there, band width DOES change the
    # result set; the oracle derives the identical value from COUNT(*).
    # The count is CACHED alongside the index (round 11, VERDICT r10
    # "what's wrong" #3): the SRP consumers' maybe_broadcast gates used
    # to re-count the raw embeddings projection on every query build —
    # an extra corpus scan per run at any scale.
    n = emb.count()
    ib = srp_band_table(
        emb, "vec_id", "embedding", _SRPW_BANDS * _srpw_band_bits(n), _SRPW_BANDS,
        seed="srpw", dim=_SRP_DIM, spread=True,
    ).persist()
    ib.count()
    return ib, n


def _srp_pair_scores(
    spark: SparkSession, sf_dir: str, ib: DataFrame, n_rows: int
) -> DataFrame:
    """(id_1, id_2, cos): every pair ``id_1 < id_2`` that shares a (band,
    val) bucket of the band table ``ib``, scored exactly by dot product.
    ``n_rows`` is the embeddings row count that sizes the broadcast gate.
    DuckDB twin: `_SQL_SRP_PAIR_SCORED`."""
    from .functions.vector import dot_product
    from .partitioning import maybe_broadcast

    l = ib.select(F.col("vec_id").alias("id_1"), "band", "val")
    r = ib.select(F.col("vec_id").alias("id_2"), "band", "val")
    cand = (
        l.join(r, ["band", "val"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    emb = __load(spark, sf_dir, "embeddings")
    e1 = emb.select(F.col("vec_id").alias("id_1"), F.col("embedding").alias("v1"))
    e2 = emb.select(F.col("vec_id").alias("id_2"), F.col("embedding").alias("v2"))
    # second vector fetch broadcast when the corpus fits (physical-only) —
    # otherwise the join reshuffles candidate rows already carrying v1,
    # pairs × vector bytes (the containment_bottomk wide-payload lesson).
    # row_bytes=1024 is the IN-MEMORY HashedRelation cost of a 64-float
    # row (256 B data × ~3-4× UnsafeRow/array-header/hash-page overhead),
    # NOT the serialized size: the r11 decade-4 probe showed an 8M-row
    # vector table passing a serialized-size gate and then dying on
    # Spark's hard 8 GiB broadcast-relation cap — and the failed broadcast
    # build took the whole local-mode context down with it.  The byte gate
    # now admits ≤ ~6.3M vectors; past that the shuffle join runs, which
    # is the correct shape on a real cluster anyway.
    return (
        cand.join(e1, "id_1")
        .join(maybe_broadcast(e2, 8_000_000, n_rows=n_rows, row_bytes=1024), "id_2")
        .select("id_1", "id_2", dot_product("v1", "v2").alias("cos"))
    )


# `scored`: the distinct (id_1, id_2) pairs of `cand` with their exact
# cosine — the DuckDB twin of `_srp_pair_scores`.
_SQL_SRP_PAIR_SCORED = """scored AS (
      SELECT c.id_1, c.id_2,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
      FROM (SELECT DISTINCT id_1, id_2 FROM cand) c
      JOIN embeddings a ON c.id_1 = a.vec_id
      JOIN embeddings b ON c.id_2 = b.vec_id)"""


@register(
    "dedup_embedding_srp",
    oracle=f"""
    WITH cfg AS ({_SQL_SRPW_CFG}),
    {_SQL_SRPW_BT},
    cand AS ({_SQL_SRPW_PAIR_CAND}),
    {_SQL_SRP_PAIR_SCORED}
    SELECT id_1, id_2, floor(cos*10000 + 0.5)/10000.0 AS cosine
    FROM scored
    ORDER BY cos DESC, id_1, id_2
    LIMIT 50
    """,
)
def q_dedup_embedding_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding) near-dup candidates via SRP-LSH buckets +
    exact cosine rescore — the PRIMARY scale path for semantic dedup,
    registered with SCALE-ADAPTIVE banding: 4 bands of
    ``clamp(bit_length(n) − 4, 4, 40)`` bits each, derived from a corpus
    count at index-build time (independent 'srpw' hyperplanes; the fixed
    4-bit configuration lives on as `dedup_embedding_srp_narrow_demo`).
    History made this rule code instead of prose: the fixed 4-bit bands
    measured quadratic at 10× (95×/decade), the fixed 8-bit bands that
    replaced them exhausted spill disk at the 100× fixture, and the
    round-7 adaptive rule's own 15-bit CAP (so 4 bands packed one BIGINT
    signature) froze the width at n ≈ 524k and measured 55.6×/decade at
    the 1000× fixture (VERDICT r9 #1) — every FIXED width, cap included,
    is just a cliff placed at a different decade.  Round 10 band-slices
    the signatures (each band packs its own plane block, `srp_band_table`),
    so the packing limit is 63 bits PER BAND and the cap of 40 binds only
    past ~8.8 trillion vectors.  With the adaptive width, per-row random
    collisions per band ≈ n·2⁻ᵇⁱᵗˢ ∈ [8, 16), so the candidate set stays
    ~8-16·bands·n rows at any corpus size (500 → 5 bits, 2k → 7, 20k → 11,
    200k → 14, 2M → 17).  The DuckDB oracle derives the IDENTICAL width
    from COUNT(*) (`length(bin(n))` is Python's `bit_length` —
    exact-integer log2, no libm) and packs the IDENTICAL band slices from
    a plane-sign list, so candidates AND ranks stay bit-exactly verified
    at every fixture scale, like every SRP path.  Recall tradeoff is honest and visible: wider bands
    return fewer/looser pairs on this isotropic no-near-dup corpus;
    genuinely-near pairs (cosine ≥ 0.9) still collide w.h.p. at any
    width, and `dedup_embedding_cosine` remains the exactness reference.

    Scale: identical shapes to the narrow variant (band self-join of the
    session-shared index, narrow id pairs, rescore joins, top-50
    TakeOrderedAndProject) — only the collision mass changes, and the
    adaptive width pins it linear in n by construction.
    """
    # the gate's row count is the index build's cached COUNT(*) — no
    # re-scan per query build
    ib, n = _shared_srpw_index(spark, sf_dir)
    scored = _srp_pair_scores(spark, sf_dir, ib, n)
    return (
        scored.orderBy(F.desc("cos"), "id_1", "id_2")
        .limit(50)
        .select("id_1", "id_2", round4("cos").alias("cosine"))
    )


@register(
    "dedup_embedding_srp_narrow_demo",
    oracle=f"""
    WITH cap AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_SRP_DEMO_CAP}),
    sig AS (SELECT e.vec_id, ({_SQL_SRP_SIG}) AS sig
            FROM embeddings e JOIN cap USING (vec_id)),
    bt AS (SELECT vec_id, {_SQL_SRP_BANDS} FROM sig),
    cand AS ({_SQL_SRP_PAIR_CAND}),
    {_SQL_SRP_PAIR_SCORED}
    SELECT id_1, id_2, floor(cos*10000 + 0.5)/10000.0 AS cosine
    FROM scored
    ORDER BY cos DESC, id_1, id_2
    LIMIT 50
    """,
)
def q_dedup_embedding_srp_narrow_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL-DEMONSTRATOR variant of `dedup_embedding_srp` with narrow
    4-bit bands — deliberately NOT the production default: the measured
    10× decade showed its random-collision candidate mass (~bands·2⁻⁴
    per pair) growing quadratically (95× runtime at 10× data,
    SCALING_MEASURED.md §1).  It stays registered because narrow bands
    maximize recall at fixture scale, making it the clearest
    side-by-side against `dedup_embedding_cosine`'s exact answer.
    `dedup_embedding_cosine` proves the exact answer with block-pair
    sharding (O(n²/B) work); this pairs only vectors that agree on ≥1 of
    the {_SRP_BANDS} signature bands, the SemDeDup-style prune, with
    recall governed by the
    banding.  Same emission contract as the exact variant (top-50 pairs by
    cosine, id-tie-broken) so the two paths are directly comparable, and —
    because the SRP hyperplanes are md5-derived constants — the WHOLE
    approximate pipeline (candidates AND ranks) is verified bit-exactly
    against DuckDB, unlike typical ANN dedup.

    Scale: a DEMONSTRATOR is BOUNDED BY DESIGN (round 7) — it runs on
    the lowest-{_SRP_DEMO_CAP} vec_ids (same deterministic cap shape as
    `knn_loo_eval`), because its narrow banding is intentionally the
    quadratic cliff the adaptive default avoids: uncapped at the 100×
    fixture the self-join emits ~10⁹–10¹⁰ candidate pairs (the round-7
    first bench attempt measured it monopolizing the machine).  Capped,
    the demo demonstrates at every fixture; the corpus-scale semantic
    path is `dedup_embedding_srp`.  No-op at sf ≤ 0.1 (n ≤ 2,000 < cap)
    — the driver's correctness gate and the sf0.1 bench are unchanged.
    Within the cap: band semi-join of the session-shared index, narrow
    id pairs, rescore joins, top-50 TakeOrderedAndProject.
    """
    emb_all = __load(spark, sf_dir, "embeddings")
    ib = _shared_srp_index(spark, sf_dir)  # (vec_id, band, val)
    n_all = emb_all.count()
    if n_all > _SRP_DEMO_CAP:
        # prune to the demo slice only when the cap BINDS — below it the
        # join is a semantic no-op that still cost 0.85 s/collect at
        # sf0.1 (TakeOrdered + broadcast per collect); the count is a
        # cheap parquet-metadata scan and partitioning-independent, and
        # the oracle's LIMIT text needs no branch (same result either way)
        cap_ids = emb_all.select("vec_id").orderBy("vec_id").limit(_SRP_DEMO_CAP)
        ib = ib.join(F.broadcast(cap_ids), "vec_id")
    # the gate's row count reuses the cap-gate count above — no second scan
    scored = _srp_pair_scores(spark, sf_dir, ib, n_all)
    return (
        scored.orderBy(F.desc("cos"), "id_1", "id_2")
        .limit(50)
        .select("id_1", "id_2", round4("cos").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# PQ ANN with a full bit-exact oracle (hash-sampled codebooks keep every
# stage SQL-expressible; see operators/ann.py PQ section).
# ---------------------------------------------------------------------------
def _pq_slice(expr: str, s: int) -> str:
    return f"({expr})[{s * PQ_SD + 1}:{(s + 1) * PQ_SD}]"


# The three PQ-family oracles (pq, ivfpq, ivfpq_residual) are built from
# one copy of each stage, as their operators are (operators/ann.py).  A
# fragment is a run of CTEs; ``_sql_with`` chains them into one query.
# Relation arguments name a table and its alias (``"resid r"``, ``"rcb
# rc"``) or a CTE used unaliased (``"cb"``).
_SQL_PQ_CODEBOOK = f"""ordered AS (
      SELECT embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {PQ_CODES}),
    cb AS (
      SELECT row_number() OVER () - 1 AS code, cvec
      FROM ordered),"""

_SQL_PQ_QUERIES = """q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
          FROM embeddings WHERE vec_id < 20),"""


def _sql_with(*ctes: str) -> str:
    return "\n    WITH " + "\n    ".join(ctes)


def _sql_pq_encode(rows: str, vec: str, cb: str, materialized: str = "") -> str:
    """dist + codes: each row's nearest code per subspace (pq_encode)."""
    r, c = rows.split()[-1], cb.split()[-1]
    d_cols = ",\n             ".join(
        f"list_dot_product({_pq_slice(c + '.cvec', s)}, {_pq_slice(c + '.cvec', s)})"
        f" - 2.0 * list_dot_product({_pq_slice(vec, s)}, {_pq_slice(c + '.cvec', s)})"
        f" AS d{s}"
        for s in range(PQ_SUB)
    )
    c_aggs = ",\n             ".join(
        f"first(code ORDER BY d{s}, code) AS c{s}" for s in range(PQ_SUB)
    )
    return f"""dist AS (
      SELECT {r}.vec_id, {c}.code,
             {d_cols}
      FROM {rows} CROSS JOIN {cb}),
    codes AS {materialized}(
      SELECT vec_id,
             {c_aggs}
      FROM dist GROUP BY vec_id),"""


def _sql_cen_dist(vec: str) -> str:
    """|c|² − 2x·c against coarse centroid ``co`` (coarse_assign, probe)."""
    return f"list_dot_product(co.cvec, co.cvec) - 2.0 * list_dot_product({vec}, co.cvec)"


def _sql_coarse(materialized: str = "") -> str:
    """co_ordered + coarse + assign: the hash-sampled coarse cells and each
    vector's nearest one (coarse_cells, coarse_assign)."""
    return f"""co_ordered AS (
      SELECT embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY md5('ivf:' || vec_id::VARCHAR), vec_id
      LIMIT {IVFPQ_CELLS}),
    coarse AS (SELECT row_number() OVER () - 1 AS cell, cvec FROM co_ordered),
    assign AS {materialized}(
      SELECT v.vec_id, first(co.cell ORDER BY {_sql_cen_dist('v.embedding::DOUBLE[]')}, co.cell) AS cell
      FROM embeddings v CROSS JOIN coarse co GROUP BY v.vec_id),"""


def _sql_coarse_probe(qcen: bool = False) -> str:
    """probe + cand_ids: each query's IVFPQ_NPROBE nearest cells and the
    vectors assigned to them (_coarse_probe), carrying q·cen if asked."""
    if qcen:
        cols = "qid, cell, qcen"
        qcen_col = "\n               list_dot_product(q.qvec, co.cvec) AS qcen,"
        cand = "SELECT p.qid, a.vec_id, p.qcen\n      FROM assign a"
    else:
        cols, qcen_col, cand = "qid, cell", "", "SELECT p.qid, a.vec_id FROM assign a"
    return f"""probe AS (
      SELECT {cols} FROM (
        SELECT q.qid, co.cell,{qcen_col}
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY {_sql_cen_dist('q.qvec')}, co.cell) AS rn
        FROM q CROSS JOIN coarse co)
      WHERE rn <= {IVFPQ_NPROBE}),
    cand_ids AS (
      {cand} JOIN probe p ON a.cell = p.cell),"""


def _sql_pq_lut_long(cb: str) -> str:
    """lut_long: (qid, s, code, l) per query and codebook row (_pq_lut_long)."""
    c = cb.split()[-1]
    lut = "\n      UNION ALL ".join(
        f"SELECT q.qid, {s} AS s, {c}.code, "
        f"list_dot_product({_pq_slice('q.qvec', s)}, {_pq_slice(c + '.cvec', s)}) AS l "
        f"FROM q CROSS JOIN {cb}"
        for s in range(PQ_SUB)
    )
    return f"lut_long AS (\n      {lut}),"


def _sql_pq_codes_long() -> str:
    """codes_long: (vec_id, s, code), one row per subspace (_pq_codes_long)."""
    codes = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, c{s} AS code FROM codes" for s in range(PQ_SUB)
    )
    return f"codes_long AS (\n      {codes}),"


def _sql_adc_fold(probed: bool, start: str = "0.0") -> str:
    """approx: LUT terms folded in subspace order from ``start`` (_adc_fold),
    over every code, or over the probed cells' candidates (cand_ids c)."""
    if probed:
        qid = "c.qid"
        rows = """cand_ids c
      JOIN codes_long cl ON cl.vec_id = c.vec_id
      JOIN lut_long lu ON lu.qid = c.qid AND lu.s = cl.s AND lu.code = cl.code"""
    else:
        qid = "lu.qid"
        rows = "codes_long cl JOIN lut_long lu ON lu.s = cl.s AND lu.code = cl.code"
    keys = ", ".join(["cl.vec_id", qid] + ([start] if start != "0.0" else []))
    return f"""approx AS (
      SELECT cl.vec_id, {qid} AS query_id,
             list_reduce(list_prepend({start}, list(lu.l ORDER BY lu.s)),
                         (a, b) -> a + b) AS a
      FROM {rows}
      GROUP BY {keys}),"""


def _sql_rescore_topk(rescore: int) -> str:
    """cand + rescored + top 10: each query's top-``rescore`` approximate
    candidates rescored exactly."""
    return f"""{_sql_top_cand("approx", "a", rescore)},
    {_SQL_RESCORED}
    SELECT query_id, vec_id,
           floor(raw*10000 + 0.5)/10000.0 AS score,
           rank::INTEGER AS rank
    FROM rescored
    """


def _pq_oracle() -> str:
    return _sql_with(
        _SQL_PQ_CODEBOOK,
        _sql_pq_encode("embeddings v", "v.embedding::DOUBLE[]", "cb"),
        _SQL_PQ_QUERIES,
        _sql_pq_codes_long(),
        _sql_pq_lut_long("cb"),
        _sql_adc_fold(probed=False),
        _sql_rescore_topk(PQ_RESCORE),
    )


@artifact()
def _shared_pq_index(spark: SparkSession, sf_dir: str):
    """(codebook, codes) — build-once artifact like the IVF/SRP/SQ indexes;
    at scale the codes table is the 8-bytes-per-vector packed index one
    materializes next to the corpus."""
    emb = __load(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb).persist()
    cb.count()
    codes = pq_encode(emb, cb).persist()
    codes.count()
    return cb, codes


@register("ann_pq_topk", oracle=_pq_oracle())
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (product-quantization) ANN top-10 for 20 queries — the 4th ANN
    path, completing IVF / SRP-LSH / int8-SQ / PQ.  Hash-sampled
    codebooks keep the whole pipeline deterministic and SQL-expressible,
    so unlike textbook (Lloyd-trained) PQ this entry is verified
    BIT-EXACTLY against DuckDB: codebook choice, per-subspace code
    assignment, LUT scores, candidate set, and final ranks.  Recall floor
    pinned in pytest alongside.  Scale notes in operators/ann.py."""
    emb = __load(spark, sf_dir, "embeddings")
    cb, codes = _shared_pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = pq_topk(emb, codes, cb, queries, k=10)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


# ---------------------------------------------------------------------------
# Filtered ANN: metadata predicate applied BEFORE the approximate scan.
# ---------------------------------------------------------------------------
@register("ann_filtered_topk", oracle=_sq_oracle(10, "label BETWEEN 2 AND 5"))
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (the production ANN shape: "nearest docs
    WHERE label ∈ [2,5]") on the int8-SQ path, done the correct way —
    PRE-filtering: the metadata predicate restricts the code table BEFORE
    the approximate scan, so top-k is always full (post-filtering an
    unfiltered top-k under-fills or misses matches — the classic filtered
    -ANN bug).  Quantization constants stay CORPUS-level: the index is
    built once and serves every predicate; only the probe is filtered.

    Scale: the predicate lands on a narrow (vec_id, label) join against
    the session-shared code table — at 100 TB, labels live alongside codes
    in the index parquet and the filter pushes down to the scan; the
    approximate pass then touches only surviving codes (broadcast queries,
    WindowGroupLimit top-40), and the exact rescore touches O(queries ×
    40) float vectors.  Bit-exact DuckDB twin for the whole pipeline:
    `_sq_oracle`, the `ann_sq_topk` oracle with the label filter."""
    from .operators.ann import sq_topk

    emb = __load(spark, sf_dir, "embeddings")
    mins, scales, codes = _shared_sq_index(spark, sf_dir)
    keep = emb.filter(F.col("label").between(2, 5)).select("vec_id")
    fcodes = codes.join(keep, "vec_id")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sq_topk(fcodes, emb, queries, mins, scales, k=10, rescore=40)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


# ---------------------------------------------------------------------------
# Media perceptual-hash near-dup: the multimodal arm of the dedup family.
# ---------------------------------------------------------------------------
# 32-bit hash, 2 × 16-bit bands since round 6 (was 16-bit / 2 × 8): the
# r5 scaled run measured the 8-bit bands' RANDOM collision mass growing
# quadratically (24.7× runtime at 10× data) — the same LSH-width lesson as
# dedup_embedding_srp, applied to the pHash family.  16-bit bands cut the
# random mass 2^8× per band; pigeonhole completeness for hamming ≤ 1 is
# unchanged (2 bands > 1 differing bit).
PHASH_BITS = 32
PHASH_BANDS = 2
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_BAND_MASK = (1 << PHASH_BAND_BITS) - 1
PHASH_MAX_HAMMING = 1


def _phash_byte_sql(i: int) -> str:
    # byte i of the 32-byte stub feature vector: md5(text) ++ md5('ph2|'||text)
    if i < 16:
        return f"('0x' || substr(md5(text), {2 * i + 1}, 2))::BIGINT"
    return f"('0x' || substr(md5('ph2|' || text), {2 * (i - 16) + 1}, 2))::BIGINT"


_SQL_PHASH_BYTES = ", ".join(f"{_phash_byte_sql(i)} AS b{i}" for i in range(PHASH_BITS))
_SQL_PHASH_TOT = " + ".join(f"b{i}" for i in range(PHASH_BITS))
_SQL_PHASH_VAL = " + ".join(
    f"(CASE WHEN {PHASH_BITS} * b{i} > tot THEN {1 << i} ELSE 0 END)"
    for i in range(PHASH_BITS)
)
_SQL_PHASH_CAND = " UNION ".join(
    f"SELECT x.doc_id AS id_1, y.doc_id AS id_2 FROM ph x "
    f"JOIN ph y ON ((x.phash >> {PHASH_BAND_BITS * k}) & {PHASH_BAND_MASK})"
    f" = ((y.phash >> {PHASH_BAND_BITS * k}) & {PHASH_BAND_MASK}) "
    f"AND x.doc_id < y.doc_id"
    for k in range(PHASH_BANDS)
)


@register(
    "media_phash_neardup",
    oracle=f"""
    WITH bt AS (SELECT doc_id, {_SQL_PHASH_BYTES} FROM documents),
    tt AS (SELECT doc_id, ({_SQL_PHASH_TOT}) AS tot,
                  {", ".join(f"b{i}" for i in range(PHASH_BITS))} FROM bt),
    ph AS (SELECT doc_id, ({_SQL_PHASH_VAL})::BIGINT AS phash FROM tt),
    cand AS ({_SQL_PHASH_CAND})
    SELECT c.id_1, c.id_2,
           bit_count(xor(p1.phash, p2.phash))::BIGINT AS hamming
    FROM (SELECT DISTINCT id_1, id_2 FROM cand) c
    JOIN ph p1 ON c.id_1 = p1.doc_id
    JOIN ph p2 ON c.id_2 = p2.doc_id
    WHERE bit_count(xor(p1.phash, p2.phash)) <= {PHASH_MAX_HAMMING}
    ORDER BY c.id_1, c.id_2
    """,
)
def q_media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for media payloads — the
    multimodal twin of SimHash dedup: Arrow-batched decode emits a 32-bit
    pHash (sign-vs-mean over decoded feature bytes, integer-exact), hashes
    are banded into two 16-bit segments (pigeonhole: hamming <= 1 ⟹ some
    band equal), candidates equal on >= 1 band are verified with an exact
    XOR popcount.  Band width is the measured scale knob: the r5 decade
    run showed 8-bit bands' random collision mass quadratic (24.7× at
    10×); 16-bit bands cut it 2^8× at identical hamming-1 completeness.
    With the honest stub decoder only byte-identical
    payloads hash close (hamming 0); with a real DCT the same pipeline
    finds re-encoded/resized images — ONLY the UDF body changes.

    Scale: the hash table is (doc_id, int64) — 16 bytes/doc regardless of
    media size; band equi-joins replace any pairwise comparison (same
    contract as `dedup_simhash`, plan-gated there); payloads are read once
    in the decode seam and never shuffled."""
    from .operators.multimodal import attach_binary_payload, decode_image_phash

    docs = __load(spark, sf_dir, "documents")
    ph = decode_image_phash(attach_binary_payload(docs)).persist()
    cands = None
    for k in range(PHASH_BANDS):
        band = (
            F.shiftright(F.col("phash"), PHASH_BAND_BITS * k) % (PHASH_BAND_MASK + 1)
        ).alias("band")
        x = ph.select(F.col("doc_id").alias("id_1"), F.col("phash").alias("ph_1"), band)
        y = ph.select(F.col("doc_id").alias("id_2"), F.col("phash").alias("ph_2"), band)
        c = x.join(y, "band").filter(F.col("id_1") < F.col("id_2")).drop("band")
        cands = c if cands is None else cands.unionAll(c)
    ham = F.bit_count(F.col("ph_1").bitwiseXOR(F.col("ph_2")))
    return (
        cands.distinct()
        .filter(ham <= PHASH_MAX_HAMMING)
        .select("id_1", "id_2", ham.cast("long").alias("hamming"))
        .orderBy("id_1", "id_2")
    )


# ---------------------------------------------------------------------------
# ANN index-quality evaluation: SRP recall@10 vs exact KNN, in-engine.
# ---------------------------------------------------------------------------
@register(
    "ann_srp_recall_eval",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, ({_SQL_SRP_SIG}) AS sig FROM embeddings),
    qb AS (SELECT vec_id AS query_id, {_SQL_SRP_BANDS} FROM sig WHERE vec_id < 20),
    ib AS (SELECT vec_id, {_SQL_SRP_BANDS} FROM sig),
    cand AS ({_SQL_SRP_CAND}),
    {_SQL_RESCORED},
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 20),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q)
      WHERE rank <= 10)
    SELECT x.query_id,
           count(a.vec_id)::BIGINT AS hits,
           floor((count(a.vec_id) / 10.0) * 10000 + 0.5) / 10000.0 AS recall_at_10
    FROM exact x
    LEFT JOIN rescored a ON x.query_id = a.query_id AND x.vec_id = a.vec_id
    GROUP BY x.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_srp_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation run INSIDE the engine: per-query recall@10
    of the SRP-LSH path against exact KNN ground truth — the health check
    an ANN deployment runs after every index rebuild (recall drift is how
    quantization/banding bugs and distribution shift surface in
    production).  Because BOTH pipelines are deterministic md5-math, the
    whole evaluation — candidates, ranks, hit counts — has a bit-exact
    DuckDB twin, which is exactly what makes this a trustworthy gate.

    Scale: ground truth is the broadcast-queries exact scan (bounded by
    the query set, not the corpus); the approx side reuses the
    session-shared SRP band table; the comparison is a narrow
    (query_id, vec_id) left join over 10·|queries| rows."""
    from .operators.ann import srp_topk
    from .operators.knn import similarity_join

    emb = __load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = srp_topk(
        emb, queries, k=10, n_bits=_SRP_BITS, bands=_SRP_BANDS, dim=_SRP_DIM,
        index_bands=_shared_srp_index(spark, sf_dir),
    ).select(F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vec"))
    exact = similarity_join(emb, queries, k=10).select("query_id", "vec_id")
    return (
        exact.join(
            approx,
            (exact.query_id == approx.a_qid) & (exact.vec_id == approx.a_vec),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_vec").cast("long").alias("hits"))
        .select(
            "query_id",
            "hits",
            round4(F.col("hits") / 10.0).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Embedding-distribution drift: block (B-test) MMD with an RBF kernel.
# ---------------------------------------------------------------------------
# Block count is scale-ADAPTIVE (round 7): with B blocks the pair work is
# n²/B, so a FIXED B is quadratic growth hiding in a constant — the exact
# class the 100× campaign kept finding (fixed SRP bands, fixed cosine
# blocking, fixed simhash radius).  Holding the per-block population near
# MMD_BUCKET_TARGET makes total pair work ≈ n·target, i.e. LINEAR in the
# corpus, while the B-test estimator stays consistent (more blocks = the
# standard B-test variance/compute dial, Zaremba et al. NeurIPS 2013).
# B must be derived IDENTICALLY in both engines because the md5 bucket
# assignment (and hence the result) depends on it: integer ceil-divide of
# the corpus count, floored at 32 — both operands non-negative, so DuckDB
# `//` (floor) and Python `//` agree; n ≤ 16,384 keeps B = 32, so every
# driver-gate fixture (sf ≤ 0.1, n = 2,000) is bit-unchanged.
# Block size 512 (was 2000; VERDICT r7 "what's wrong" #3): pair work is
# ~n·target/2, and the per-pair cost is join-row-assembly-bound (~400 ns
# measured), so the 2000-block estimator was 104 s cold at 100× — 4× less
# pair work for the same consistent B-test estimator (block-size choice is
# the standard variance/compute dial, well above the √n ≈ 450-1400 blocks
# the B-test literature uses at these corpus sizes).
MMD_MIN_BUCKETS = 32
MMD_BUCKET_TARGET = 512


def _mmd_buckets(n: int) -> int:
    """Adaptive block count — same formula as the oracle's cfg subquery."""
    return max(MMD_MIN_BUCKETS, (n + MMD_BUCKET_TARGET - 1) // MMD_BUCKET_TARGET)


_SQL_MMD_BUCKETS = (
    f"(SELECT GREATEST({MMD_MIN_BUCKETS}, "
    f"(COUNT(*) + {MMD_BUCKET_TARGET - 1}) // {MMD_BUCKET_TARGET})::BIGINT "
    f"FROM embeddings)"
)
# Per-pair RBF kernel on squared L2 distance, gamma = 1 (unit-ish vectors,
# d^2 in [0, ~4]); ONE shared DOUBLE text, micro-quantized PER PAIR before
# any sum so the fold is an exact integer in both engines.
_MMD_K_MICRO = (
    "CAST(floor(exp(-({aa} - 2.0 * ({ab}) + {bb})) * 1000000.0 + 0.5) AS BIGINT)"
)
# Per-bucket MMD^2 in micro units from the three integer kernel sums; the
# bucket value is floor-quantized BEFORE the cross-bucket average.
_MMD_B_MICRO = (
    "CAST(floor("
    "CAST(sxx AS DOUBLE) / CAST(nxx AS DOUBLE)"
    " + CAST(syy AS DOUBLE) / CAST(nyy AS DOUBLE)"
    " - 2.0 * CAST(sxy AS DOUBLE) / CAST(nxy AS DOUBLE)"
    " + 0.5) AS BIGINT)"
)


def _mmd_oracle() -> str:
    # The self-dots are PER-ROW quantities hoisted out of the pair join
    # (round 7: they were measured at 2/3 of the per-pair kernel cost at
    # 100×) — `na` is projected once per row in `e` on both engines, so
    # only the cross dot remains per pair.  Same shared kernel text, same
    # doubles, bit-identical result.
    k_xx = _MMD_K_MICRO.format(
        aa="a.na", ab="list_dot_product(a.v, b.v)", bb="b.na",
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS na,
             {salted_hash_sql("mmdarm", "vec_id")}
               % 2 AS arm,
             {salted_hash_sql("mmdblk", "vec_id")}
               % {_SQL_MMD_BUCKETS} AS b
      FROM embeddings),
    xx AS (
      SELECT a.b, count(*)::BIGINT AS nxx, sum({k_xx})::BIGINT AS sxx
      FROM e a JOIN e b ON a.b = b.b AND a.arm = 1 AND b.arm = 1
                       AND a.vec_id < b.vec_id
      GROUP BY a.b),
    yy AS (
      SELECT a.b, count(*)::BIGINT AS nyy, sum({k_xx})::BIGINT AS syy
      FROM e a JOIN e b ON a.b = b.b AND a.arm = 0 AND b.arm = 0
                       AND a.vec_id < b.vec_id
      GROUP BY a.b),
    xy AS (
      SELECT a.b, count(*)::BIGINT AS nxy, sum({k_xx})::BIGINT AS sxy
      FROM e a JOIN e b ON a.b = b.b AND a.arm = 1 AND b.arm = 0
      GROUP BY a.b),
    per_bucket AS (
      SELECT xx.b, {_MMD_B_MICRO} AS m_micro
      FROM xx JOIN yy ON xx.b = yy.b JOIN xy ON xx.b = xy.b),
    s AS (
      SELECT count(*)::BIGINT AS n_buckets, sum(m_micro)::BIGINT AS sum_micro
      FROM per_bucket),
    counts AS (
      SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_x,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_y
      FROM e)
    SELECT c.n_x, c.n_y, s.n_buckets, s.sum_micro,
           floor((CAST(s.sum_micro AS DOUBLE)
                  / (CAST(s.n_buckets AS DOUBLE) * 1000000.0))*10000 + 0.5)
             /10000.0 AS mmd2
    FROM s CROSS JOIN counts c
    """


@register("embedding_drift_mmd", oracle=_mmd_oracle())
def q_embedding_drift_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: block (B-test) MMD² with an
    RBF kernel between two md5 halves of the corpus — the multivariate
    two-sample test the value-based toolkit (KS / Mann–Whitney / Welch /
    Brown–Forsythe) cannot express, and the standard check that a new
    crawl/encoder batch landed in the SAME embedding distribution as the
    corpus it joins.  The estimator averages FULL quadratic MMD² over
    md5-assigned buckets, so total pair work is n²/B instead of n² — and
    B is ADAPTIVE (round 7): ceil(n / {MMD_BUCKET_TARGET}) floored at
    {MMD_MIN_BUCKETS}, derived from the same count in both engines, so
    pair work stays ~n·target (linear) at any corpus size instead of the
    fixed-constant quadratic the 100× campaign kept catching.  On the
    A/A md5 split MMD² must read ≈ 0 (gate-pinned vs the
    4/√(bucket-pairs) null band).

    Exactness: every pairwise kernel value exp(−‖a−b‖²) is quantized to
    micro units PER PAIR (one shared DOUBLE text; the two self-dots are
    hoisted per-ROW on both engines, only the cross dot is per-pair —
    measured 2/3 of the kernel cost at 100×), the three per-bucket sums are exact
    BIGINTs, each bucket's MMD² is floor-quantized before the
    cross-bucket fold, and the emitted statistic carries its exact
    integer twin (sum_micro) beside the rounded float.

    Scale: pairs exist ONLY within an md5 bucket (the block-sharding
    pattern `dedup_embedding_cosine` uses) — never a corpus cross join;
    per-bucket pair counts are (n/B)², bounded by choosing B ∝ n; the
    shuffle carries (bucket, id, vec) rows once and narrow integer sums
    back.
    """
    emb = __load(spark, sf_dir, "embeddings")
    # One cheap parquet-metadata count prices the corpus for the adaptive
    # block rule (same eager-count tradeoff as _shared_srpw_index: callers
    # with expensive unmaterialized lineage should persist first).
    mmd_b = _mmd_buckets(emb.count())
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        (salted_hash("mmdarm", "vec_id") % 2).alias("arm"),
        (salted_hash("mmdblk", "vec_id") % mmd_b).alias("b"),
    )
    from .functions.vector import dot_product

    # per-ROW self-dot hoisted out of the pair join (see _mmd_oracle);
    # the prepared (id, vec, na, arm, bucket) table feeds six pair branches
    # and the count fold — checkpoint it so the corpus is scanned ONCE and
    # na is computed ONCE (at production scale this is the written staging
    # table the joins read)
    e = e.withColumn("na", dot_product("v", "v"))
    e = e.localCheckpoint(eager=True)

    def pairs(arm_a: int, arm_b: int, strict: bool):
        a = e.filter(F.col("arm") == arm_a).select(
            F.col("b"),
            F.col("vec_id").alias("ida"),
            F.col("v").alias("va"),
            F.col("na").alias("__aa"),
        )
        bb = e.filter(F.col("arm") == arm_b).select(
            F.col("b"),
            F.col("vec_id").alias("idb"),
            F.col("v").alias("vb"),
            F.col("na").alias("__bb"),
        )
        j = a.join(bb, "b")
        if strict:
            j = j.filter(F.col("ida") < F.col("idb"))
        k = _MMD_K_MICRO.format(aa="__aa", ab="__ab", bb="__bb")
        return (
            j.withColumn("__ab", dot_product("va", "vb"))
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.expr(k)).cast("long").alias("s"),
            )
        )
    xx = pairs(1, 1, True).select(
        "b", F.col("n").alias("nxx"), F.col("s").alias("sxx")
    )
    yy = pairs(0, 0, True).select(
        "b", F.col("n").alias("nyy"), F.col("s").alias("syy")
    )
    xy = pairs(1, 0, False).select(
        "b", F.col("n").alias("nxy"), F.col("s").alias("sxy")
    )
    per_bucket = (
        xx.join(yy, "b").join(xy, "b").select(F.expr(_MMD_B_MICRO).alias("m_micro"))
    )
    s = per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("m_micro").cast("long").alias("sum_micro"),
    )
    counts = e.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_x"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_y"),
    )
    return s.crossJoin(F.broadcast(counts)).select(
        "n_x",
        "n_y",
        "n_buckets",
        "sum_micro",
        F.expr(
            "CAST(floor((CAST(sum_micro AS DOUBLE)"
            " / (CAST(n_buckets AS DOUBLE) * 1000000.0))*10000 + 0.5)"
            "/10000.0 AS DOUBLE)"
        ).alias("mmd2"),
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random-projection distortion audit: project the
# 64-d embeddings to 16-d with md5-derived ±1 signs and measure how well
# pairwise squared distances survive — the go/no-go check before shipping
# a cheaper projected index.
# ---------------------------------------------------------------------------
JL_OUT_DIM = 16
JL_PAIR_IDS = 50  # all C(50,2) = 1225 pairs among vec_id < 50

# ±1 sign matrix from md5 — deterministic constants, like srp_planes but
# Rademacher (the Achlioptas 2003 database-friendly JL construction).
_JL_SIGNS = [
    [
        1.0 if int(_hashlib.md5(f"jl|{r}|{j}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1.0
        for j in range(_SRP_DIM)
    ]
    for r in range(JL_OUT_DIM)
]

_SQL_JL_PROJ = ", ".join(
    "list_dot_product(embedding::DOUBLE[], [{vals}]) AS p{r}".format(
        vals=", ".join(repr(x) for x in row), r=r
    )
    for r, row in enumerate(_JL_SIGNS)
)
# squared distances, fixed per-dimension fold order (shared text shape on
# both sides; each term is one subtraction + one multiply on doubles)
_SQL_JL_D2_PROJ = " + ".join(
    f"(a.p{r} - b.p{r}) * (a.p{r} - b.p{r})" for r in range(JL_OUT_DIM)
)


@register(
    "jl_projection_distortion",
    oracle=f"""
    WITH proj AS (
      SELECT vec_id, embedding, {_SQL_JL_PROJ}
      FROM embeddings WHERE vec_id < {JL_PAIR_IDS}),
    pairs AS (
      SELECT a.vec_id AS id_1, b.vec_id AS id_2,
             list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
             - 2.0 * list_dot_product(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[])
             + list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])
               AS d2_orig,
             (({_SQL_JL_D2_PROJ}) / {JL_OUT_DIM}.0) AS d2_proj
      FROM proj a JOIN proj b ON a.vec_id < b.vec_id),
    ratios AS (
      SELECT CASE WHEN d2_orig <= 0.0 THEN 1000000::BIGINT
                  ELSE floor((d2_proj / d2_orig) * 1000000 + 0.5)::BIGINT
             END AS r_micro
      FROM pairs)
    SELECT count(*)::BIGINT AS n_pairs,
           floor((CAST(sum(r_micro) AS DOUBLE) / count(*) / 1000000.0)
                 * 10000 + 0.5)/10000.0 AS mean_ratio,
           floor((CAST(min(r_micro) AS DOUBLE) / 1000000.0)*10000 + 0.5)/10000.0
             AS min_ratio,
           floor((CAST(max(r_micro) AS DOUBLE) / 1000000.0)*10000 + 0.5)/10000.0
             AS max_ratio
    FROM ratios
    """,
)
def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distortion audit of a 64-d → 16-d Rademacher
    (±1/√k) random projection: for every pair among the first 50 vectors
    (C(50,2) = 1225 pairs), the ratio of projected to original squared
    distance, summarized as mean/min/max.  JL guarantees the ratios
    concentrate around 1 with spread ~√(ln n / k) — the measured answer to
    "can the ANN candidate stage run on 16-d vectors instead of 64-d",
    which cuts index bytes and candidate-scan cost 4×.  Signs are
    md5-derived constants (the index definition), like every LSH/SRP
    artifact here (dims/sample size: JL_OUT_DIM / JL_PAIR_IDS).

    Exactness: projections and squared distances are fixed-order IEEE
    folds (the same list_dot_product ≡ zip_with/aggregate identity every
    KNN oracle proves bit-exact); each pair's ratio is micro-quantized
    BEFORE the min/max/mean folds, so the output is partitioning-invariant
    and hash-matches DuckDB.

    Scale: the audit is O(pairs) on a bounded sample (deterministic id
    prefix); the projection itself is a per-row map — at 100 TB you'd
    project the full corpus in the same scan that builds the index and
    audit distortion on this bounded pair sample.
    """
    from .functions.vector import dot_product

    emb = __load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < JL_PAIR_IDS)
    proj_cols = [
        dot_product("embedding", F.array(*[F.lit(x) for x in row])).alias(f"p{r}")
        for r, row in enumerate(_JL_SIGNS)
    ]
    proj = emb.select("vec_id", "embedding", *proj_cols).localCheckpoint(eager=True)
    a = proj.select(
        F.col("vec_id").alias("id_1"),
        F.col("embedding").alias("e1"),
        *[F.col(f"p{r}").alias(f"a{r}") for r in range(JL_OUT_DIM)],
    )
    b = proj.select(
        F.col("vec_id").alias("id_2"),
        F.col("embedding").alias("e2"),
        *[F.col(f"p{r}").alias(f"b{r}") for r in range(JL_OUT_DIM)],
    )
    d2_proj = " + ".join(
        f"(a{r} - b{r}) * (a{r} - b{r})" for r in range(JL_OUT_DIM)
    )
    pairs = (
        a.join(b, F.col("id_1") < F.col("id_2"))
        .select(
            (
                dot_product("e1", "e1")
                - 2.0 * dot_product("e1", "e2")
                + dot_product("e2", "e2")
            ).alias("d2_orig"),
            F.expr(f"({d2_proj}) / {JL_OUT_DIM}.0").alias("d2_proj"),
        )
        .select(
            F.expr(
                "CASE WHEN d2_orig <= 0.0 THEN CAST(1000000 AS BIGINT)"
                " ELSE CAST(floor((d2_proj / d2_orig) * 1000000 + 0.5) AS BIGINT)"
                " END"
            ).alias("r_micro")
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CAST(floor((CAST(sum(r_micro) AS DOUBLE) / count(*) / 1000000.0)"
            " * 10000 + 0.5)/10000.0 AS DOUBLE)"
        ).alias("mean_ratio"),
        F.expr(
            "CAST(floor((CAST(min(r_micro) AS DOUBLE) / 1000000.0)*10000 + 0.5)"
            "/10000.0 AS DOUBLE)"
        ).alias("min_ratio"),
        F.expr(
            "CAST(floor((CAST(max(r_micro) AS DOUBLE) / 1000000.0)*10000 + 0.5)"
            "/10000.0 AS DOUBLE)"
        ).alias("max_ratio"),
    )


# ---------------------------------------------------------------------------
# Mutual (reciprocal) k-NN pairs over the SRP candidate graph — the
# precision filter for near-dup mining: keep (a, b) only when each is in
# the other's top-k, computed on ANN candidates, never all pairs.
# ---------------------------------------------------------------------------
MKNN_K = 5

_SQL_MKNN_CAND = (
    "SELECT a.vec_id AS q_id, b.vec_id AS c_id FROM bt a JOIN bt b "
    "ON a.band = b.band AND a.val = b.val AND a.vec_id != b.vec_id"
)


@register(
    "mutual_knn_pairs",
    oracle=f"""
    WITH cfg AS ({_SQL_SRPW_CFG}),
    {_SQL_SRPW_BT},
    cand AS (SELECT DISTINCT q_id, c_id FROM ({_SQL_MKNN_CAND})),
    topk AS (
      SELECT q_id, c_id, rank FROM (
        SELECT c.q_id, c.c_id,
               row_number() OVER (PARTITION BY c.q_id ORDER BY
                 list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
                 c.c_id) AS rank
        FROM cand c
        JOIN embeddings q ON c.q_id = q.vec_id
        JOIN embeddings e ON c.c_id = e.vec_id)
      WHERE rank <= {MKNN_K}),
    mutual AS (
      SELECT f.q_id AS id_1, f.c_id AS id_2,
             f.rank::BIGINT AS rank_12, r.rank::BIGINT AS rank_21
      FROM topk f JOIN topk r ON f.q_id = r.c_id AND f.c_id = r.q_id
      WHERE f.q_id < f.c_id)
    SELECT m.id_1, m.id_2, m.rank_12, m.rank_21,
           floor(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 *10000 + 0.5)/10000.0 AS cosine
    FROM mutual m
    JOIN embeddings a ON m.id_1 = a.vec_id
    JOIN embeddings b ON m.id_2 = b.vec_id
    ORDER BY list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
             m.id_1, m.id_2
    LIMIT 50
    """,
)
def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal (mutual) k-NN pairs: (a, b) kept only when b is in a's
    top-5 AND a is in b's top-5 — the standard precision filter for
    near-dup mining and re-ranking (one-directional neighbors are often
    hubness artifacts: a generic vector appears in everyone's list
    without its own list reciprocating).  Neighborhoods are computed on
    the SRP-LSH candidate graph (the session-shared wide-band index),
    so the whole operator is candidate-bounded — never an all-pairs
    scan — and, because SRP planes are md5 constants, bit-exactly
    oracle-checkable end to end, top-k ranks included.

    Scale: the candidate graph is symmetric and the dot product is
    operand-order-invariant in IEEE (per-index a·b products, same
    summation order), so scores are computed ONCE per UNDIRECTED pair —
    the band self-join keeps id_1 < id_2, the two rescore joins ship
    embedding arrays for half the directed candidate mass, and both
    directions for the per-node ranking windows come from a narrow
    (q, c, s) union afterwards.  (Round 10: the directed-scoring shape
    shipped arrays for ~124M candidates through two shuffle joins at the
    1000× fixture and died on spill ENOSPC — exactly the
    `containment_bottomk` big-array-payload lesson; undirected scoring
    is the same array volume `dedup_embedding_srp` survives.)  Per-node
    top-5 via one keyed window (WindowGroupLimit prunes map-side),
    mutuality as a self-join of the bounded top-k edge list on the
    reversed key — O(n·k) rows; the final cosine rides along from the
    scoring pass (identical float, no re-join against the vectors).
    Final top-50 is TakeOrderedAndProject.
    """
    ib, n = _shared_srpw_index(spark, sf_dir)
    scored_u = _srp_pair_scores(spark, sf_dir, ib, n)
    directed = scored_u.select(
        F.col("id_1").alias("q_id"), F.col("id_2").alias("c_id"), F.col("cos").alias("s")
    ).unionByName(
        scored_u.select(
            F.col("id_2").alias("q_id"), F.col("id_1").alias("c_id"), F.col("cos").alias("s")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("c_id"))
    topk = (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MKNN_K)
        .select("q_id", "c_id", "rank", "s")
        # the bounded top-k edge list feeds both sides of the mutuality
        # self-join — cut it or the candidate scoring replays twice
        .localCheckpoint(eager=True)
    )
    rev = topk.select(
        F.col("c_id").alias("q_id"), F.col("q_id").alias("c_id"),
        F.col("rank").alias("rank_21"),
    )
    return (
        topk.join(rev, ["q_id", "c_id"])
        .filter(F.col("q_id") < F.col("c_id"))
        .select(
            F.col("q_id").alias("id_1"), F.col("c_id").alias("id_2"),
            F.col("rank").cast("long").alias("rank_12"),
            F.col("rank_21").cast("long").alias("rank_21"),
            F.col("s").alias("cos"),
        )
        .orderBy(F.desc("cos"), "id_1", "id_2")
        .limit(50)
        .select("id_1", "id_2", "rank_12", "rank_21", round4("cos").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed ANN: coarse inverted-file pruning x PQ compression, with
# a generated bit-exact oracle (the coarse quantizer is hash-sampled, so —
# unlike the Lloyd-refined ann_ivf_topk — every stage is SQL-expressible).
# ---------------------------------------------------------------------------
def _ivfpq_oracle() -> str:
    return _sql_with(
        _SQL_PQ_CODEBOOK,
        _sql_pq_encode("embeddings v", "v.embedding::DOUBLE[]", "cb"),
        _sql_coarse(),
        _SQL_PQ_QUERIES,
        _sql_coarse_probe(),
        _sql_pq_codes_long(),
        _sql_pq_lut_long("cb"),
        _sql_adc_fold(probed=True),
        _sql_rescore_topk(IVFPQ_RESCORE),
    )


@artifact()
def _shared_ivfpq_coarse(spark: SparkSession, sf_dir: str):
    """(cents, assign) — the coarse half of the IVF-PQ index; the fine
    half (codebook + codes) is registry_extensions._shared_pq_index.  At
    scale `assign` is the physical partitioning of the code table
    (write.partitionBy(cell)), built once per corpus snapshot."""
    emb = __load(spark, sf_dir, "embeddings")
    cents = coarse_cells(emb).persist()
    cents.count()
    assign = coarse_assign(emb, cents).persist()
    assign.count()
    return cents, assign


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN top-10 for 20 queries — the 5th ANN path
    (IVF / SRP-LSH / int8-SQ / PQ / IVF-PQ), and the FAISS-style layout a
    100 TB corpus actually deploys: coarse cells prune the scan to
    nprobe/cells of the corpus, PQ codes compress what remains to 8
    bytes/vector, exact rescore restores ranking fidelity on the
    short-list.  Hash-sampled coarse centroids keep every stage
    SQL-expressible, so the composition is verified BIT-EXACTLY against
    DuckDB (cells, probes, ADC scores, candidate set, final ranks) —
    recall floor pinned in pytest alongside.  Scale notes in
    operators/ann.py (partition-pruned cell layout, broadcast LUTs)."""
    emb = __load(spark, sf_dir, "embeddings")
    cb, codes = _shared_pq_index(spark, sf_dir)
    cents, assign = _shared_ivfpq_coarse(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivfpq_topk(emb, codes, cb, cents, assign, queries, k=10)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


# ---------------------------------------------------------------------------
# IVF-PQ with residual encoding — the production FAISS layout, oracle-exact.
# ---------------------------------------------------------------------------
def _ivfpq_residual_oracle() -> str:
    resid = f"""resid AS MATERIALIZED (
      SELECT v.vec_id, a.cell,
             list_transform(v.embedding::DOUBLE[], (x, i) -> x - co.cvec[i])
               AS rvec
      FROM embeddings v
      JOIN assign a ON v.vec_id = a.vec_id
      JOIN coarse co ON a.cell = co.cell),
    rcb_ordered AS (
      SELECT rvec AS cvec FROM resid
      ORDER BY md5('pqr:' || vec_id::VARCHAR), vec_id LIMIT {PQ_CODES}),
    rcb AS (SELECT row_number() OVER () - 1 AS code, cvec FROM rcb_ordered),"""
    return _sql_with(
        _sql_coarse("MATERIALIZED "),
        resid,
        _sql_pq_encode("resid r", "r.rvec", "rcb rc", "MATERIALIZED "),
        _SQL_PQ_QUERIES,
        _sql_coarse_probe(qcen=True),
        _sql_pq_codes_long(),
        _sql_pq_lut_long("rcb rc"),
        _sql_adc_fold(probed=True, start="c.qcen"),
        _sql_rescore_topk(IVFPQ_RESCORE),
    )


@artifact(deps=("_shared_ivfpq_coarse",))
def _shared_ivfpq_residual_index(spark: SparkSession, sf_dir: str):
    """(rcb, rcodes) — the residual fine half of the IVF-PQ index: PQ
    codebook sampled from RESIDUAL rows (seed 'pqr:') and per-vector
    residual codes.  Built once per corpus snapshot, like the coarse half."""
    from .operators.ann import pq_encode, residual_codebook, residual_table

    emb = __load(spark, sf_dir, "embeddings")
    cents, assign = _shared_ivfpq_coarse(spark, sf_dir)
    resid = residual_table(emb, cents, assign)
    rcb = residual_codebook(resid).persist()
    rcb.count()
    rcodes = pq_encode(resid, rcb, vec_col="rvec").persist()
    rcodes.count()
    return rcb, rcodes


@register("ann_ivfpq_residual_topk", oracle=_ivfpq_residual_oracle())
def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ ANN top-10 for 20 queries — `ann_ivfpq_topk` with
    the PQ codes quantizing (vector − coarse centroid) instead of the raw
    vector, which is what FAISS's "IVFx,PQy" actually stores: residuals
    concentrate near 0, so the same 8-byte code budget resolves
    within-cell geometry instead of re-encoding the cell's position —
    the property that keeps recall up at high compression.  ADC scores
    decompose exactly as q·cen(cell) + Σ LUT[s, code] (the base term
    rides along from the probe), so the whole path — residuals, residual
    codebook, codes, probes, ADC, ranks — stays SQL-expressible and is
    verified BIT-EXACTLY against DuckDB; the recall floor vs the
    non-residual path on the same probe/rescore budget is pinned in
    pytest.  Scale notes in operators/ann.py."""
    emb = __load(spark, sf_dir, "embeddings")
    from .operators.ann import ivfpq_residual_topk

    cents, assign = _shared_ivfpq_coarse(spark, sf_dir)
    rcb, rcodes = _shared_ivfpq_residual_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivfpq_residual_topk(emb, rcodes, rcb, cents, assign, queries, k=10)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")
