"""Independent (non-oracle) gates for the round-5 additions: pure-Python
rebuilds of label propagation, the integer eigencentrality iteration, and
the Mann–Kendall statistic — the unrolled-CTE oracles share iteration
structure with the Spark plans, so these re-derive the answers from raw
inputs with none of that structure."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb

from conftest import SF_TEST
from vector_search_spark import registry
from vector_search_spark.registry_graph import EIGEN_ROUNDS, EIGEN_SCALE, LPA_ROUNDS


def _edges(spark, sf_dir):
    from vector_search_spark.registry_dedup import _shared_verified_pairs

    pairs = _shared_verified_pairs(spark, sf_dir).select("id_1", "id_2").collect()
    es = set()
    for r in pairs:
        es.add((r.id_1, r.id_2))
        es.add((r.id_2, r.id_1))
    return sorted(es)


def test_label_propagation_matches_pure_python(spark):
    edges = _edges(spark, SF_TEST)
    nbrs = defaultdict(list)
    for a, b in edges:
        nbrs[b].append(a)  # incoming = outgoing (symmetric)
    labels = {v: v for v in nbrs}
    for _ in range(LPA_ROUNDS):
        labels = {
            v: min(
                (c for c in Counter(labels[u] for u in ns).items()),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for v, ns in nbrs.items()
        }
    sizes = Counter(labels.values())
    expect = sorted((v, l, sizes[l]) for v, l in labels.items())
    got = [
        (r.doc_id, r.community, r.community_size)
        for r in registry.QUERIES["dup_label_propagation"](spark, SF_TEST).collect()
    ]
    assert got == expect
    assert len(got) > 0


def test_label_propagation_refines_connected_components(spark):
    """Every LPA community lives inside one connected component (labels
    only travel along edges), and communities can only be finer."""
    from vector_search_spark.operators.dedup import connected_components
    from vector_search_spark.registry_dedup import _shared_verified_pairs

    cc = {
        r.node: r.label
        for r in connected_components(
            _shared_verified_pairs(spark, SF_TEST)
        ).collect()
    }
    comm_to_comp = {}
    for r in registry.QUERIES["dup_label_propagation"](spark, SF_TEST).collect():
        comp = cc[r.doc_id]
        assert comm_to_comp.setdefault(r.community, comp) == comp


def test_eigencentrality_matches_pure_python(spark):
    edges = _edges(spark, SF_TEST)
    nbrs = defaultdict(list)
    for a, b in edges:
        nbrs[b].append(a)
    nodes = sorted(nbrs)
    x = {v: EIGEN_SCALE for v in nodes}
    for _ in range(EIGEN_ROUNDS):
        s = {v: sum(x[u] for u in nbrs[v]) for v in nodes}
        tot = sum(s.values())
        d = 1 + tot // (len(nodes) * EIGEN_SCALE)
        x = {v: s[v] // d for v in nodes}
    got = [
        (r.doc_id, r.centrality_micro)
        for r in registry.QUERIES["dup_eigencentrality"](spark, SF_TEST).collect()
    ]
    assert got == sorted(x.items())
    # mass concentrates: the max-centrality node sits in a largest clique-ish
    # neighborhood, and all scores are non-negative
    assert all(v >= 0 for _, v in got)
    assert max(v for _, v in got) > 0


def test_mann_kendall_matches_pure_python(spark):
    con = duckdb.connect()
    daily = con.execute(
        f"""SELECT CAST(ts AS DATE) AS day,
                  sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet'
            WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    vals = [c for _, c in daily]
    n = len(vals)
    s = sum(
        (0 if vals[j] == vals[i] else (1 if vals[j] > vals[i] else -1))
        for i in range(n)
        for j in range(i + 1, n)
    )
    tsum = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(vals).values() if t > 1
    )
    var = (n * (n - 1) * (2 * n + 5) - tsum) / 18.0
    z = 0.0 if s == 0 else (s - (1 if s > 0 else -1)) / math.sqrt(var)
    tau = s / (n * (n - 1) / 2.0)
    row = registry.QUERIES["mann_kendall_daily"](spark, SF_TEST).collect()[0]
    assert row.n_days == n and row.s_stat == s
    assert row.tau == math.floor(tau * 10000 + 0.5) / 10000.0
    assert row.z == math.floor(z * 10000 + 0.5) / 10000.0
    expected_trend = (
        "increasing" if z > 1.959964 else "decreasing" if z < -1.959964 else "no_trend"
    )
    assert row.trend == expected_trend


def test_gbdt_residual_stumps_matches_pure_python(spark):
    """Full pure-Python rebuild of the two boosting rounds (exact integer
    residuals, float gains) — no shared structure with the oracle CTEs."""
    import collections

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(floor(l_quantity + 0.5) AS BIGINT),
                   CAST(floor(l_discount*100 + 0.5) AS BIGINT),
                   CAST(floor(l_tax*100 + 0.5) AS BIGINT),
                   CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/lineitem.parquet'"""
    ).fetchall()
    names = ["quantity", "discount_pct", "tax_pct"]
    n = len(rows)
    sy = sum(r[3] for r in rows)
    f0 = sy // n  # positive: floor == //
    expect = [(0, "__mean__", -1, n, 0, f0, f0, 0.0)]
    res = [(r[0], r[1], r[2], r[3] - f0) for r in rows]

    def fdiv(a, b):  # exact floor division, as the shared pmod SQL text
        return (a - (((a % b) + b) % b)) // b

    for t in (1, 2):
        cand = []
        for fi, name in enumerate(names):
            cells = collections.defaultdict(lambda: [0, 0, 0])
            for r in res:
                c = cells[r[fi]]
                c[0] += 1
                c[1] += r[3]
                c[2] += r[3] * r[3]
            nt = sum(c[0] for c in cells.values())
            st = sum(c[1] for c in cells.values())
            sst = sum(c[2] for c in cells.values())
            cn = cs = 0
            for v in sorted(cells)[:-1]:
                cn += cells[v][0]
                cs += cells[v][1]
                den = sst - st * st / nt
                g = (
                    (cs * cs / cn + (st - cs) ** 2 / (nt - cn) - st * st / nt) / den
                    if den > 0
                    else 0.0
                )
                cand.append(
                    (math.floor(g * 1e9 + 0.5), name, v, cn, nt - cn, cs, st - cs)
                )
        cand.sort(key=lambda x: (-x[0], x[1], x[2]))
        nano, bf, bv, nl, nr, sl, sr = cand[0]
        vl, vr = fdiv(sl, nl), fdiv(sr, nr)
        expect.append(
            (t, bf, bv, nl, nr, vl, vr, math.floor((nano / 1e9) * 1e4 + 0.5) / 1e4)
        )
        fi = names.index(bf)
        res = [
            (r[0], r[1], r[2], r[3] - (vl if r[fi] <= bv else vr)) for r in res
        ]
    got = [
        (
            r.round,
            r.feature,
            r.threshold,
            r.n_left,
            r.n_right,
            r.delta_left_cents,
            r.delta_right_cents,
            r.split_r2,
        )
        for r in registry.QUERIES["gbdt_residual_stumps"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_pca_second_component_matches_numpy(spark):
    """v2 must align with numpy's SECOND eigenvector of the same integer
    moment matrix, λ2 with the second eigenvalue, and the in-band
    orthogonality diagnostic must be ~0."""
    import numpy as np
    import pytest

    from vector_search_spark.registry_ml import _PCA_D, _PCA_FEATURES, _PCA_Q

    rows = registry.QUERIES["pca_second_component"](spark, SF_TEST).collect()
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.dim)])
    lam = rows[0].lambda_est
    assert all(abs(r.v1_dot_v2) <= 1e-3 for r in rows)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{SF_TEST}/lineitem.parquet'")
    feats = ", ".join(f"{e} AS x{j}" for j, e in enumerate(_PCA_FEATURES))
    X = con.execute(f"SELECT {feats} FROM lineitem").df().to_numpy().astype(np.float64)
    M = np.zeros((_PCA_D, _PCA_D))
    for j in range(_PCA_D):
        for k in range(_PCA_D):
            M[j, k] = np.floor(X[:, j] * X[:, k] * _PCA_Q + 0.5).sum()
    w, vecs = np.linalg.eigh(M)
    order = np.argsort(w)[::-1]
    second = vecs[:, order[1]]
    cos = abs(np.dot(v, second) / (np.linalg.norm(v) * np.linalg.norm(second)))
    assert cos > 0.999, cos
    assert lam == pytest.approx(w[order[1]] / _PCA_Q, rel=1e-3)


def test_svd_rank2_matches_numpy(spark):
    """Both loading vectors must align with numpy's top-2 right-singular
    vectors of the SAME cents matrix, sigmas within convergence tolerance,
    and the emitted orthogonality diagnostic ~0."""
    import numpy as np
    import pytest

    con = duckdb.connect()
    cells = con.execute(
        f"""SELECT user_id, event_type,
                   sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    users = sorted({c[0] for c in cells})
    types = sorted({c[1] for c in cells})
    M = np.zeros((len(users), len(types)))
    ui = {u: i for i, u in enumerate(users)}
    ti = {t: i for i, t in enumerate(types)}
    for u, t, c in cells:
        M[ui[u], ti[t]] = c
    _, sv, vt = np.linalg.svd(M, full_matrices=False)

    rows = sorted(
        registry.QUERIES["svd_rank2_affinity"](spark, SF_TEST).collect(),
        key=lambda r: r.event_type,
    )
    assert [r.event_type for r in rows] == types
    v1 = np.array([r.loading1 for r in rows])
    v2 = np.array([r.loading2 for r in rows])
    cos1 = abs(v1 @ vt[0] / (np.linalg.norm(v1) * np.linalg.norm(vt[0])))
    cos2 = abs(v2 @ vt[1] / (np.linalg.norm(v2) * np.linalg.norm(vt[1])))
    assert cos1 > 0.999, cos1
    assert cos2 > 0.995, cos2
    assert rows[0].sigma1_dollars == pytest.approx(sv[0] / 100.0, rel=1e-3)
    assert rows[0].sigma2_dollars == pytest.approx(sv[1] / 100.0, rel=1e-2)
    assert rows[0].sigma1_dollars > rows[0].sigma2_dollars
    assert all(abs(r.v1_dot_v2) <= 1e-3 for r in rows)


def test_basket_pairs_match_pure_python(spark):
    """Brute-force basket pair mining in pure Python (no Apriori prefilter
    — proving the prefilter lossless) must reproduce the top-20 exactly."""
    from vector_search_spark.registry_analytics import _BASKET_MIN_SUPPORT, _BASKET_TOP

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{SF_TEST}/lineitem.parquet'"
    ).fetchall()
    baskets = defaultdict(set)
    for o, p in rows:
        baskets[o].add(p)
    supp = Counter(p for ps in baskets.values() for p in ps)
    pair = Counter()
    for ps in baskets.values():
        sp = sorted(ps)
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                pair[(sp[i], sp[j])] += 1
    n = len(baskets)
    cand = sorted(
        ((c, p1, p2) for (p1, p2), c in pair.items() if c >= _BASKET_MIN_SUPPORT),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:_BASKET_TOP]

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000.0

    expect = [
        (
            p1,
            p2,
            c,
            r4(c / n),
            r4(c / supp[p1]),
            r4(c / supp[p2]),
            r4(c * n / (supp[p1] * supp[p2])),
        )
        for c, p1, p2 in cand
    ]
    got = [
        (r.part_1, r.part_2, r.support, r.support_frac, r.conf_1_2, r.conf_2_1, r.lift)
        for r in registry.QUERIES["basket_affinity_pairs"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_streaming_spend_cells_reproduce_batch_gram(spark):
    """Drained streaming (user, type) cells must equal batch M exactly;
    the Gram sums computed from them must equal the batch Gram — so the
    rank-2 factorization is reproducible from streaming state."""
    from pyspark.sql import functions as F

    from vector_search_spark.registry_ml import _SVD2_K, _SVD2_TYPES
    from vector_search_spark.streaming.events import (
        stream_events_from_parquet,
        streaming_spend_cells,
    )

    out = streaming_spend_cells(stream_events_from_parquet(spark, SF_TEST))
    q = (
        out.writeStream.format("memory")
        .queryName("spend_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.sql("SELECT user_id, event_type, cents FROM spend_cells")

    batch_m = duckdb.connect().execute(
        f"""SELECT user_id, event_type,
                   sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    got_m = sorted(
        (r.user_id, r.event_type, r.cents) for r in drained.collect()
    )
    assert got_m == [tuple(r) for r in batch_m]

    pu = drained.groupBy("user_id").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("event_type") == t, F.col("cents"))), F.lit(0))
            .cast("long")
            .alias(f"c{j}")
            for j, t in enumerate(_SVD2_TYPES)
        ]
    )
    gi = pu.agg(
        *[
            F.sum(F.col(f"c{j}").cast("decimal(38,0)") * F.col(f"c{k}"))
            .cast("decimal(38,0)")
            .alias(f"gi{j}_{k}")
            for j in range(_SVD2_K)
            for k in range(_SVD2_K)
        ]
    ).collect()[0]
    expect = defaultdict(int)
    per_user = defaultdict(lambda: [0] * _SVD2_K)
    ti = {t: j for j, t in enumerate(_SVD2_TYPES)}
    for u, t, c in batch_m:
        per_user[u][ti[t]] += c
    for cs in per_user.values():
        for j in range(_SVD2_K):
            for k in range(_SVD2_K):
                expect[(j, k)] += cs[j] * cs[k]
    for j in range(_SVD2_K):
        for k in range(_SVD2_K):
            assert int(gi[f"gi{j}_{k}"]) == expect[(j, k)]
