"""Independent (non-oracle) gates for the round-6 additions: pure-Python
rebuilds of multi-source BFS, community modularity, the daily-revenue ACF,
TextRank, and the logistic-regression GD trajectory — the unrolled-CTE
oracles share iteration structure with the Spark plans, so these re-derive
the answers from raw inputs with none of that structure."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from fractions import Fraction

import duckdb

from conftest import SF_TEST
from vector_search_spark import registry
from vector_search_spark.registry_forecast import ACF_MAX_LAG
from vector_search_spark.registry_graph import (
    BFS_ROUNDS,
    LPA_ROUNDS,
    TEXTRANK_MIN_DF,
    TEXTRANK_ROUNDS,
    TEXTRANK_TOPK,
)
from vector_search_spark.registry_mlfit import LOGREG_ROUNDS


def _edges(spark, sf_dir):
    from vector_search_spark.registry_dedup import _shared_verified_pairs

    pairs = _shared_verified_pairs(spark, sf_dir).select("id_1", "id_2").collect()
    es = set()
    for r in pairs:
        es.add((r.id_1, r.id_2))
        es.add((r.id_2, r.id_1))
    return sorted(es)


def _round4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000.0


def test_bfs_hops_matches_pure_python(spark):
    edges = _edges(spark, SF_TEST)
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[b].add(a)
    seeds = {v for v, ns in nbrs.items() if v < min(ns)}
    dist = {v: 0 for v in seeds}
    for _ in range(BFS_ROUNDS):
        nxt = dict(dist)
        for v, ns in nbrs.items():
            cand = [dist[u] + 1 for u in ns if u in dist]
            if cand:
                best = min(cand)
                if v not in nxt or best < nxt[v]:
                    nxt[v] = best
        dist = nxt
    expect = sorted(dist.items())
    got = [
        (r.doc_id, r.dist)
        for r in registry.QUERIES["dup_bfs_hops"](spark, SF_TEST).collect()
    ]
    assert got == expect


def _lpa_labels(edges):
    nbrs = defaultdict(list)
    for a, b in edges:
        nbrs[b].append(a)
    labels = {v: v for v in nbrs}
    for _ in range(LPA_ROUNDS):
        labels = {
            v: min(
                (c for c in Counter(labels[u] for u in ns).items()),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for v, ns in nbrs.items()
        }
    return labels


def _cc_labels(edges):
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
    labels = {}
    for v in sorted(nbrs):
        if v in labels:
            continue
        stack, comp = [v], []
        seen = {v}
        while stack:
            u = stack.pop()
            comp.append(u)
            for w in nbrs[u]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        root = min(comp)
        for u in comp:
            labels[u] = root
    return labels


def test_modularity_matches_fraction_arithmetic(spark):
    edges = _edges(spark, SF_TEST)
    tm = len(edges)  # directed count = 2m
    deg = Counter(a for a, _ in edges)
    schemes = {"components": _cc_labels(edges), "label_prop": _lpa_labels(edges)}
    expect = []
    q_by_scheme = {}
    for scheme in sorted(schemes):
        labels = schemes[scheme]
        comm_nodes = defaultdict(list)
        for v, l in labels.items():
            comm_nodes[l].append(v)
        intra2 = Counter(labels[a] for a, b in edges if labels[a] == labels[b])
        num_tot = 0
        rows = []
        for c in sorted(comm_nodes):
            d_c = sum(deg[v] for v in comm_nodes[c])
            n_c = intra2[c] * tm - d_c * d_c
            num_tot += n_c
            rows.append((scheme, c, len(comm_nodes[c]), d_c, intra2[c] // 2, n_c))
        q_by_scheme[scheme] = num_tot
        expect.extend(rows)
    got = registry.QUERIES["dup_community_modularity"](spark, SF_TEST).collect()
    assert len(got) == len(expect)
    for r, (scheme, c, size, d_c, intra, n_c) in zip(got, expect):
        assert (r.scheme, r.community, r.size, r.degree_sum, r.intra_edges) == (
            scheme,
            c,
            size,
            d_c,
            intra,
        )
        assert r.contribution == _round4(n_c / (float(tm) * float(tm)))
        assert r.modularity == _round4(q_by_scheme[scheme] / (float(tm) * float(tm)))
    # the diagnosis the query exists for: components beat random linking
    # decisively; synchronous LPA's oscillation on pair components leaves
    # its partition fragmented and its Q near zero.
    assert Fraction(q_by_scheme["components"], tm * tm) > Fraction(1, 2)
    assert Fraction(q_by_scheme["label_prop"], tm * tm) < Fraction(
        q_by_scheme["components"], tm * tm
    )


def test_acf_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(ts AS DATE) AS day,
               sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
        FROM '{SF_TEST}/events.parquet'
        WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    d0 = min(r[0] for r in rows)
    series = {(r[0] - d0).days: int(r[1]) for r in rows}
    n = len(series)
    s = sum(series.values())
    dev = {i: n * c - s for i, c in series.items()}
    den = sum(d * d for d in dev.values())
    got = registry.QUERIES["acf_daily_revenue"](spark, SF_TEST).collect()
    assert [r.lag for r in got] == list(range(1, ACF_MAX_LAG + 1))
    for r in got:
        pairs = [(i, i - r.lag) for i in dev if i - r.lag in dev]
        num = sum(dev[i] * dev[j] for i, j in pairs)
        assert r.n_pairs == len(pairs)
        assert r.acf == _round4(float(num) / float(den))
        assert abs(r.acf) < 1.0


def test_textrank_matches_pure_python(spark):
    con = duckdb.connect()
    texts = con.execute(
        f"SELECT text FROM '{SF_TEST}/documents.parquet' WHERE trim(text) != ''"
    ).fetchall()
    docs = [t[0].strip().lower().split() for t in texts]
    df = Counter()
    for toks in docs:
        df.update(set(toks))
    freq = {t for t, c in df.items() if c >= TEXTRANK_MIN_DF}
    w = Counter()
    for toks in docs:
        for a, b in zip(toks, toks[1:]):
            if a != b and a in freq and b in freq:
                w[(a, b)] += 1
                w[(b, a)] += 1
    wu = Counter()
    for (u, _v), c in w.items():
        wu[u] += c
    r = {u: 1_000_000 for u in wu}
    for _ in range(TEXTRANK_ROUNDS):
        s = defaultdict(int)
        for (u, v), c in w.items():
            s[v] += (c * r[u]) // wu[u]
        r = {v: 150000 + (85 * sv) // 100 for v, sv in s.items()}
    expect = sorted(((tok, rank, wu[tok]) for tok, rank in r.items()),
                    key=lambda x: (-x[1], x[0]))[:TEXTRANK_TOPK]
    got = [
        (x.tok, x.rank_micro, x.strength)
        for x in registry.QUERIES["textrank_keywords"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_logreg_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT ts, event_type FROM '{SF_TEST}/events.parquet'"
    ).fetchall()
    base = []
    for ts, et in rows:
        y = 1 if et == "purchase" else 0
        h2 = 2 * ts.hour - 23
        d3 = ((ts.weekday() + 1) % 7) - 3  # Sunday-0 convention
        base.append((y, h2, d3))
    n = len(base)

    def fdiv(a, b):
        return a // b  # python floordiv == the portable _fdiv text

    w0 = w1 = w2 = 0
    for _ in range(LOGREG_ROUNDS):
        g0 = g1 = g2 = 0
        for y, h2, d3 in base:
            m = 69 * w0 + 3 * w1 * h2 + 23 * w2 * d3
            p = 1.0 / (1.0 + math.exp(0.0 - (float(m) / 69000000.0)))
            e = math.floor(p * 1000000.0 + 0.5) - y * 1000000
            g0 += e
            g1 += e * h2
            g2 += e * d3
        w0 -= fdiv(2 * g0, n)
        w1 -= fdiv(2 * g1, 23 * n)
        w2 -= fdiv(2 * g2, 3 * n)
    correct = 0
    ll = 0
    n_pos = 0
    for y, h2, d3 in base:
        m = 69 * w0 + 3 * w1 * h2 + 23 * w2 * d3
        p = 1.0 / (1.0 + math.exp(0.0 - (float(m) / 69000000.0)))
        correct += 1 if (m >= 0) == (y == 1) else 0
        ll += math.floor((-math.log(p) if y == 1 else -math.log(1.0 - p)) * 1000000.0 + 0.5)
        n_pos += y
    got = registry.QUERIES["logistic_regression_gd"](spark, SF_TEST).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.w0_micro, r.w1_micro, r.w2_micro, r.n, r.n_pos) == (w0, w1, w2, n, n_pos)
    assert r.accuracy == _round4(correct * 1.0 / n)
    assert r.avg_logloss == _round4((ll * 1.0 / 1000000.0) / n)
    # training actually learned the base rate: loss below ln 2 and at the
    # entropy floor of a no-signal binary problem; accuracy = majority rule
    assert r.avg_logloss < 0.693
    assert r.accuracy >= max(r.n_pos, n - r.n_pos) / n - 1e-9
    # intercept heads to logit(base rate) ≈ −1.40 at sf0.01
    assert -1_450_000 < r.w0_micro < -1_200_000


def _emb_rows(sf_dir):
    con = duckdb.connect()
    return con.execute(
        f"SELECT vec_id, label, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()


def _dot(a, b):
    # the engines' sequential left-to-right DOUBLE fold
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def test_knn_loo_eval_matches_pure_python(spark):
    import hashlib

    from vector_search_spark.registry_mlfit import LOO_K, LOO_MOD

    rows = _emb_rows(SF_TEST)
    samp = [
        r
        for r in rows
        if int(hashlib.md5(f"looeval{r[0]}".encode()).hexdigest()[:8], 16) % LOO_MOD == 0
    ]
    per_label = defaultdict(lambda: [0, 0])
    for q in samp:
        scored = sorted(
            ((-_dot(q[2], c[2]), c[0], c[1]) for c in samp if c[0] != q[0])
        )[:LOO_K]
        votes = Counter(lbl for _, _, lbl in scored)
        pred = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        per_label[q[1]][0] += 1
        per_label[q[1]][1] += 1 if pred == q[1] else 0
    expect = [
        (lbl, n, c, _round4(c * 1.0 / n))
        for lbl, (n, c) in sorted(per_label.items())
    ]
    got = [
        (r.label, r.n_vecs, r.n_correct, r.accuracy)
        for r in registry.QUERIES["knn_loo_eval"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # on THIS synthetic corpus the labels are geometry-free, so LOO
    # accuracy sits at the 10-class chance floor — the honest eval
    # finding (a real embedding table scores far above it); the gate
    # pins the harness, not the corpus.
    overall = sum(c for _, _, c, _ in expect) / sum(n for _, n, _, _ in expect)
    assert 0.03 < overall < 0.35


def test_mmr_matches_pure_python_greedy(spark):
    from vector_search_spark.registry_search import MMR_CAND, MMR_PICKS

    rows = _emb_rows(SF_TEST)
    qv = next(r[2] for r in rows if r[0] == 0)
    scored = sorted(
        ((-_dot(r[2], qv), r[0], r[1], r[2]) for r in rows if r[0] != 0)
    )[:MMR_CAND]
    cand = [
        (vec_id, lbl, math.floor(-negs * 1000000 + 0.5), empb)
        for negs, vec_id, lbl, empb in scored
    ]
    sim = {
        (a[0], b[0]): math.floor(_dot(a[3], b[3]) * 1000000 + 0.5)
        for a in cand
        for b in cand
        if a[0] != b[0]
    }
    selected = []
    expect = []
    for pick in range(1, MMR_PICKS + 1):
        best = None
        for vec_id, lbl, rel, _ in cand:
            if vec_id in (s for s, _ in selected):
                continue
            ms = max((sim[(vec_id, s)] for s, _ in selected), default=0)
            num = 7 * rel - 3 * ms
            obj = num // 10  # python floordiv == portable _fdiv
            if best is None or (obj, -vec_id) > (best[0], -best[1]):
                best = (obj, vec_id, lbl)
        selected.append((best[1], best[0]))
        expect.append((pick, best[1], best[2], best[0]))
    got = [
        (r.pick, r.vec_id, r.label, r.mmr_micro)
        for r in registry.QUERIES["mmr_diversify_topk"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_rocchio_matches_pure_python(spark):
    from vector_search_spark.registry_search import PRF_FB, PRF_TOPK

    rows = _emb_rows(SF_TEST)
    qv = next(r[2] for r in rows if r[0] == 0)
    docs = [r for r in rows if r[0] != 0]
    fb = sorted(((-_dot(r[2], qv), r[0], r[2]) for r in docs))[:PRF_FB]
    dim = len(qv)
    csum = [0] * dim
    for _, _, e in fb:
        for j in range(dim):
            csum[j] += math.floor(float(e[j]) * 1000000 + 0.5)
    qp = [
        math.floor(float(qv[j]) * 1000000 + 0.5) + csum[j] // (2 * PRF_FB)
        for j in range(dim)
    ]
    qpd = [float(x) for x in qp]
    rescored = sorted(((-_dot(r[2], qpd), r[0], r[1]) for r in docs))[:PRF_TOPK]
    expect = [
        (vec_id, lbl, _round4(-negs / 1000000.0)) for negs, vec_id, lbl in rescored
    ]
    got = [
        (r.vec_id, r.label, r.score)
        for r in registry.QUERIES["rocchio_prf_search"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # scores come out sorted (the emitted page is the ranked page)
    assert [g[2] for g in got] == sorted((g[2] for g in got), reverse=True)


def test_streaming_daily_cells_reproduce_batch_acf(spark):
    """Drained streaming day cells must equal the batch daily series
    exactly; the ACF computed from them must equal the batch query —
    so the autocorrelation monitor is reproducible from streaming state."""
    from vector_search_spark.streaming.events import (
        stream_events_from_parquet,
        streaming_daily_revenue_cells,
    )

    out = streaming_daily_revenue_cells(stream_events_from_parquet(spark, SF_TEST))
    q = (
        out.writeStream.format("memory")
        .queryName("daily_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = sorted(
        (r.day, r.cents) for r in spark.sql("SELECT day, cents FROM daily_cells").collect()
    )
    batch = duckdb.connect().execute(
        f"""SELECT CAST(ts AS DATE) AS day,
                   sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet'
            WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert drained == [tuple(r) for r in batch]

    # ACF recomputed from the drained state == the registry query's output
    d0 = min(d for d, _ in drained)
    series = {(d - d0).days: int(c) for d, c in drained}
    n = len(series)
    s = sum(series.values())
    dev = {i: n * c - s for i, c in series.items()}
    den = sum(d * d for d in dev.values())
    got = registry.QUERIES["acf_daily_revenue"](spark, SF_TEST).collect()
    for r in got:
        num = sum(dev[i] * dev[i - r.lag] for i in dev if i - r.lag in dev)
        assert r.acf == _round4(float(num) / float(den))


def test_kaplan_meier_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM '{SF_TEST}/events.parquet'"
    ).fetchall()
    horizon = max(r[1] for r in rows)
    signup = {}
    for u, us, et in rows:
        if et == "signup" and (u not in signup or us < signup[u]):
            signup[u] = us
    first_p = {}
    for u, us, et in rows:
        if et == "purchase" and u in signup and us > signup[u]:
            if u not in first_p or us < first_p[u]:
                first_p[u] = us
    durs = []
    for u, s_us in signup.items():
        if u in first_p:
            durs.append(((first_p[u] - s_us) // 86_400_000_000, 1))
        else:
            durs.append(((horizon - s_us) // 86_400_000_000, 0))
    days = sorted({d for d, _ in durs})
    ev_c = Counter(d for d, e in durs if e)
    cen_c = Counter(d for d, e in durs if not e)
    expect = []
    cum_ln = 0
    for d in days:
        n_risk = sum(ev_c[x] + cen_c[x] for x in days if x >= d)
        if ev_c[d] > 0 and n_risk > ev_c[d]:
            cum_ln += math.floor(
                math.log((n_risk - ev_c[d]) / n_risk) * 1000000.0 + 0.5
            )
            expect.append(
                (d, n_risk, ev_c[d], cen_c[d], _round4(math.exp(cum_ln / 1000000.0)))
            )
    got = [
        (r.duration_days, r.n_risk, r.n_events, r.n_censored, r.survival)
        for r in registry.QUERIES["kaplan_meier_conversion"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # survival is a proper decreasing curve starting below 1
    survs = [g[4] for g in got]
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    assert 0 < survs[-1] < survs[0] < 1


def test_conformal_matches_pure_python_and_covers(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
                   CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/lineitem.parquet'"""
    ).fetchall()
    split = []
    for ok, ln, rf, ls, y in rows:
        b = int(hashlib.md5(f"conf{ok}-{ln}".encode()).hexdigest()[:8], 16) % 5
        split.append((b, rf, ls, y))
    tr = [(rf, ls, y) for b, rf, ls, y in split if b <= 2]
    mu = {}
    agg = defaultdict(lambda: [0, 0])
    for rf, ls, y in tr:
        agg[(rf, ls)][0] += y
        agg[(rf, ls)][1] += 1
    for k, (s, n) in agg.items():
        mu[k] = s // n
    cal = sorted(
        abs(y - mu[(rf, ls)]) for b, rf, ls, y in split if b == 3
    )
    n_cal = len(cal)
    k = (9 * (n_cal + 1) + 9) // 10
    q_hat = cal[k - 1]
    test = [abs(y - mu[(rf, ls)]) for b, rf, ls, y in split if b == 4]
    cov = sum(1 for r in test if r <= q_hat) / len(test)
    r = registry.QUERIES["conformal_price_interval"](spark, SF_TEST).collect()[0]
    assert (r.n_train, r.n_cal, r.n_test, r.q_hat_cents) == (
        len(tr),
        n_cal,
        len(test),
        q_hat,
    )
    assert r.coverage == _round4(cov)
    # the split-conformal guarantee, realized on the held-out slice
    assert 0.85 <= r.coverage <= 0.95


def test_tree_depth2_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(floor(l_quantity + 0.5) AS BIGINT),
                   CAST(floor(l_discount*100 + 0.5) AS BIGINT),
                   CAST(floor(l_tax*100 + 0.5) AS BIGINT),
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
            FROM '{SF_TEST}/lineitem.parquet'"""
    ).fetchall()
    feats = ["quantity", "discount_pct", "tax_pct"]

    def gini_gain(nl, pl, n, p):
        # mirrors registry_ml._gini_gain's operand order exactly
        nd, pd = float(n), float(p)
        nld, pld = float(nl), float(pl)
        nrd, prd = nd - nld, pd - pld
        parent = 1.0 - (pd / nd) * (pd / nd) - ((nd - pd) / nd) * ((nd - pd) / nd)
        left = 1.0 - (pld / nld) * (pld / nld) - ((nld - pld) / nld) * ((nld - pld) / nld)
        right = 1.0 - (prd / nrd) * (prd / nrd) - ((nrd - prd) / nrd) * ((nrd - prd) / nrd)
        return parent - ((nld / nd) * left + (nrd / nd) * right)

    def best_split(subset):
        n = len(subset)
        p = sum(r[3] for r in subset)
        best = None
        for fi, fname in enumerate(feats):
            hist = defaultdict(lambda: [0, 0])
            for r in subset:
                hist[r[fi]][0] += 1
                hist[r[fi]][1] += r[3]
            cum_n = cum_p = 0
            for val in sorted(hist):
                cum_n += hist[val][0]
                cum_p += hist[val][1]
                if cum_n >= n:
                    continue
                g = math.floor(gini_gain(cum_n, cum_p, n, p) * 1e9 + 0.5)
                key = (-g, fname, val)
                if best is None or key < best[0]:
                    best = (key, (fname, val, g, n, p, cum_n, cum_p))
        return best[1]

    root = best_split(rows)
    fidx = {f: i for i, f in enumerate(feats)}
    left = [r for r in rows if r[fidx[root[0]]] <= root[1]]
    right = [r for r in rows if r[fidx[root[0]]] > root[1]]
    expect = []
    for node, subset in (("left", left), ("right", right), ("root", rows)):
        f, v, g, n, p, cn, cp = best_split(subset) if node != "root" else root
        expect.append(
            (node, f, v, _round4(g / 1e9), n, p, cn, cp, n - cn, p - cp)
        )
    got = [
        (
            r.node,
            r.feature,
            r.threshold,
            r.gain,
            r.n_node,
            r.pos_node,
            r.n_left,
            r.pos_left,
            r.n_right,
            r.pos_right,
        )
        for r in registry.QUERIES["decision_tree_depth2"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # the tree is a refinement: children partition the root's rows
    assert got[0][4] + got[1][4] == got[2][4]
    assert got[0][5] + got[1][5] == got[2][5]


def test_double_sweep_matches_pure_python(spark):
    from vector_search_spark.registry_graph import DIAM_ROUNDS

    edges = _edges(spark, SF_TEST)
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
    comp = _cc_labels(edges)
    comps = defaultdict(list)
    for v, c in comp.items():
        comps[c].append(v)

    def bfs(seed, rounds):
        dist = {seed: 0}
        for _ in range(rounds):
            nxt = dict(dist)
            for u in list(dist):
                for w in nbrs[u]:
                    if w not in nxt or dist[u] + 1 < nxt[w]:
                        nxt[w] = dist[u] + 1
            dist = nxt
        return dist

    expect = []
    for c in sorted(comps):
        d1 = bfs(c, DIAM_ROUNDS)
        ecc_node = min((v for v in d1), key=lambda v: (-d1[v], v))
        d2 = bfs(ecc_node, DIAM_ROUNDS)
        expect.append((c, len(comps[c]), ecc_node, max(d2.values())))
    got = [
        (r.component, r.n_nodes, r.ecc_node, r.diameter_lb)
        for r in registry.QUERIES["graph_double_sweep_diameter"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # every component is at least an edge
    assert all(d >= 1 for _, n, _, d in got if n >= 2)


def test_trimmed_mean_matches_sorted_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/events.parquet'"""
    ).fetchall()
    per = defaultdict(list)
    for et, c in rows:
        per[et].append(c)
    expect = []
    for et in sorted(per):
        vals = sorted(per[et])
        n = len(vals)
        k = n // 10
        kept = vals[k : n - k]
        expect.append(
            (
                et,
                n,
                k,
                _round4((float(sum(kept)) / float(len(kept))) / 100.0),
                _round4((float(sum(vals)) / float(n)) / 100.0),
            )
        )
    got = [
        (r.event_type, r.n, r.n_trimmed_each_side, r.trimmed_mean, r.raw_mean)
        for r in registry.QUERIES["trimmed_mean_value"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_uplift_matches_pure_python_and_reads_null(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT user_id, count(*),
                   sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_TEST}/events.parquet' GROUP BY user_id"""
    ).fetchall()
    cells = defaultdict(lambda: [0, 0, 0, 0])  # n_t, n_c, conv_t, conv_c
    for u, n_ev, pc in rows:
        seg = "low" if n_ev < 62 else ("mid" if n_ev < 72 else "high")
        arm = int(hashlib.md5(f"uplift{u}".encode()).hexdigest()[:8], 16) % 2
        conv = 1 if pc >= 14 else 0
        c = cells[seg]
        if arm == 1:
            c[0] += 1
            c[2] += conv
        else:
            c[1] += 1
            c[3] += conv
    expect = []
    for seg in sorted(cells):
        n_t, n_c, ct, cc_ = cells[seg]
        up = float(ct) / float(n_t) - float(cc_) / float(n_c)
        pp = (float(ct) + float(cc_)) / (float(n_t) + float(n_c))
        z = up / math.sqrt(pp * (1.0 - pp) * (1.0 / float(n_t) + 1.0 / float(n_c)))
        expect.append((seg, n_t, n_c, ct, cc_, _round4(up), _round4(z)))
    got = [
        (r.segment, r.n_t, r.n_c, r.conv_t, r.conv_c, r.uplift, r.z)
        for r in registry.QUERIES["uplift_by_segment"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # md5 arms are exchangeable: the A/A read must be null in every segment
    assert all(abs(z) < 3.5 for *_, z in got)


def test_seasonal_decomposition_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(ts AS DATE) AS day,
                   sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet'
            WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    keyed = [(((d.weekday() + 1) % 7), int(c)) for d, c in rows]
    per = defaultdict(list)
    for dow, c in keyed:
        per[dow].append(c)
    seas = {dow: sum(v) // len(v) for dow, v in per.items()}
    resid = [(c - seas[dow]) for dow, c in keyed]
    ys = [c for _, c in keyed]
    n, sy, sr = len(ys), sum(ys), sum(resid)
    var_t = sum((n * y - sy) ** 2 for y in ys)
    var_r = sum((n * r - sr) ** 2 for r in resid)
    expect = [
        (
            dow,
            len(per[dow]),
            _round4(float(seas[dow]) / 100.0),
            _round4(1.0 - float(var_r) / float(var_t)),
        )
        for dow in sorted(per)
    ]
    got = [
        (r.dow, r.n_days, r.seasonal_mean, r.variance_reduction)
        for r in registry.QUERIES["seasonal_decomposition_dow"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # removing a fitted component can only reduce n-scaled variance
    assert all(vr >= 0 for *_, vr in got)


def test_k_anonymity_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_type, hour(ts), CAST(ts AS DATE) FROM '{SF_TEST}/events.parquet'"
    ).fetchall()
    grp = Counter(
        (et, h // 6, (d.weekday() + 1) % 7) for et, h, d in rows
    )
    per = defaultdict(list)
    for (et, _, _), sz in grp.items():
        per[et].append(sz)
    expect = [
        (
            et,
            len(szs),
            sum(1 for s in szs if s < 10),
            sum(s for s in szs if s < 10),
            min(szs),
        )
        for et, szs in sorted(per.items())
    ]
    got = [
        (r.event_type, r.n_groups, r.n_below_k, r.rows_below_k, r.min_group_size)
        for r in registry.QUERIES["k_anonymity_audit"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_streaming_value_histogram_reproduces_batch_trimmed_mean(spark):
    """Drained streaming (type, cents) cells must equal the batch
    histogram exactly; the trimmed mean recomputed from them must equal
    the batch query's output."""
    from vector_search_spark.streaming.events import (
        stream_events_from_parquet,
        streaming_value_histogram_cells,
    )

    out = streaming_value_histogram_cells(stream_events_from_parquet(spark, SF_TEST))
    q = (
        out.writeStream.format("memory")
        .queryName("vh_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = sorted(
        (r.event_type, r.c, r.cnt)
        for r in spark.sql("SELECT event_type, c, cnt FROM vh_cells").collect()
    )
    batch = duckdb.connect().execute(
        f"""SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS c,
                   count(*) FROM '{SF_TEST}/events.parquet'
            GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    assert drained == [tuple(r) for r in batch]
    per = defaultdict(list)
    for et, c, cnt in drained:
        per[et].extend([c] * cnt)
    got = {
        r.event_type: (r.trimmed_mean, r.n)
        for r in registry.QUERIES["trimmed_mean_value"](spark, SF_TEST).collect()
    }
    for et, vals in per.items():
        vals.sort()
        n = len(vals)
        k = n // 10
        kept = vals[k : n - k]
        assert got[et] == (
            _round4((float(sum(kept)) / float(len(kept))) / 100.0),
            n,
        )
    # the SAME drained cells also reproduce the winsorized mean — one
    # streaming state serves the whole robust-center family
    gotw = {
        r.event_type: r.winsorized_mean
        for r in registry.QUERIES["winsorized_mean_value"](spark, SF_TEST).collect()
    }
    for et, vals in per.items():
        vals.sort()
        n = len(vals)
        k = n // 10
        lo, hi = vals[k], vals[n - k - 1]
        clamped = [min(max(v, lo), hi) for v in vals]
        assert gotw[et] == _round4((float(sum(clamped)) / float(n)) / 100.0)


def test_markov_expected_steps_matches_python_and_exact_solve(spark):
    import numpy as np

    from vector_search_spark.registry_ml import _MK_TYPES
    from vector_search_spark.registry_graph import HIT_ROUNDS, _HIT_SCALE

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT prev, event_type, count(*) FROM (
              SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev, event_type
              FROM '{SF_TEST}/events.parquet')
            WHERE prev IS NOT NULL GROUP BY 1, 2"""
    ).fetchall()
    k = len(_MK_TYPES)
    idx = {t: i for i, t in enumerate(_MK_TYPES)}
    c = [[0] * k for _ in range(k)]
    for a, b, n in rows:
        c[idx[a]][idx[b]] = n
    r = [sum(row) for row in c]
    nonabs = [i for i, t in enumerate(_MK_TYPES) if t != "purchase"]
    # exact mirrored recursion (floor-quantized micro-steps)
    e = {i: 0 for i in nonabs}
    for _ in range(HIT_ROUNDS):
        e = {
            i: _HIT_SCALE
            + math.floor(
                sum(float(c[i][j]) * float(e[j]) for j in nonabs) / float(r[i]) + 0.5
            )
            for i in nonabs
        }
    pidx = idx["purchase"]
    expect = sorted(
        (
            _MK_TYPES[i],
            _round4(e[i] / float(_HIT_SCALE)),
            _round4(float(c[i][pidx]) / float(r[i])),
            r[i],
        )
        for i in nonabs
    )
    got = [
        (x.event_type, x.expected_steps, x.direct_purchase_prob, x.out_transitions)
        for x in registry.QUERIES["markov_expected_steps"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # numpy exact fundamental-matrix solve: truncation error < 1e-3 steps
    Q = np.array([[c[i][j] / r[i] for j in nonabs] for i in nonabs])
    exact = np.linalg.solve(np.eye(len(nonabs)) - Q, np.ones(len(nonabs)))
    by_type = dict(zip([_MK_TYPES[i] for i in nonabs], exact))
    for et, es, _, _ in got:
        assert abs(es - by_type[et]) < 1e-3


def test_personalized_pagerank_matches_pure_python(spark):
    from vector_search_spark.registry_graph import PPR_ITER

    edges = _edges(spark, SF_TEST)
    nbrs_in = defaultdict(list)
    deg = Counter(a for a, _ in edges)
    for a, b in edges:
        nbrs_in[b].append(a)
    nodes = sorted({a for a, _ in edges})
    seed = min(nodes)
    n = len(nodes)
    r = {v: 1_000_000 for v in nodes}
    for _ in range(PPR_ITER):
        r = {
            v: (150000 * n if v == seed else 0)
            + (85 * sum(r[u] // deg[u] for u in nbrs_in[v])) // 100
            for v in nodes
        }
    expect = sorted(r.items())
    got = [
        (x.doc_id, x.ppr_micro)
        for x in registry.QUERIES["dup_personalized_pagerank"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # restart mass concentrates: the seed's component dominates; nodes
    # outside it hold only the geometrically-decayed uniform start
    comp = _cc_labels(edges)
    seed_comp = comp[seed]
    in_max = max(v for k, v in expect if comp[k] == seed_comp)
    out_max = max((v for k, v in expect if comp[k] != seed_comp), default=0)
    assert in_max > out_max


def test_bagging_split_stability_matches_pure_python(spark):
    import hashlib

    from vector_search_spark.registry_ml import _POIS_T
    from vector_search_spark.registry_mlfit import BAG_B

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                   || '-' || CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                                  AS VARCHAR),
                   CAST(floor(l_quantity + 0.5) AS BIGINT),
                   CAST(floor(l_discount*100 + 0.5) AS BIGINT),
                   CAST(floor(l_tax*100 + 0.5) AS BIGINT),
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
            FROM '{SF_TEST}/lineitem.parquet'"""
    ).fetchall()
    feats = ["quantity", "discount_pct", "tax_pct"]

    def pois(u):
        for k, t in enumerate(_POIS_T):
            if u < t:
                return k
        return 7

    def gini_gain(nl, pl, nn, pp):
        nd, pd = float(nn), float(pp)
        nld, pld = float(nl), float(pl)
        nrd, prd = nd - nld, pd - pld
        parent = 1.0 - (pd / nd) * (pd / nd) - ((nd - pd) / nd) * ((nd - pd) / nd)
        left = 1.0 - (pld / nld) * (pld / nld) - ((nld - pld) / nld) * ((nld - pld) / nld)
        right = 1.0 - (prd / nrd) * (prd / nrd) - ((nrd - prd) / nrd) * ((nrd - prd) / nrd)
        return parent - ((nld / nd) * left + (nrd / nd) * right)

    wins = Counter()
    digests = [
        [hashlib.md5(f"bagg{g}:{sig}".encode()).hexdigest() for g in range(BAG_B // 4)]
        for sig, *_ in rows
    ]
    for b in range(BAG_B):
        hist = {f: defaultdict(lambda: [0, 0]) for f in feats}
        g, lane = b // 4, b % 4
        for (sig, q, d, t, pos), hs in zip(rows, digests):
            u = int(hs[g][lane * 8 : lane * 8 + 8], 16)
            w = pois(u)
            if w == 0:
                continue
            for fname, val in (("quantity", q), ("discount_pct", d), ("tax_pct", t)):
                hist[fname][val][0] += w
                hist[fname][val][1] += w * pos
        best = None
        for fname in feats:
            n_tot = sum(c for c, _ in hist[fname].values())
            p_tot = sum(p for _, p in hist[fname].values())
            if n_tot == 0:
                continue
            cn = cp = 0
            for val in sorted(hist[fname]):
                cn += hist[fname][val][0]
                cp += hist[fname][val][1]
                if cn >= n_tot:
                    continue
                gn = math.floor(gini_gain(cn, cp, n_tot, p_tot) * 1e9 + 0.5)
                key = (-gn, fname, val)
                if best is None or key < best[0]:
                    best = (key, (fname, val))
        wins[best[1]] += 1
    expect = sorted(
        ((f, v, w, BAG_B) for (f, v), w in wins.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )
    got = [
        (r.feature, r.threshold, r.wins, r.n_replicas)
        for r in registry.QUERIES["bagging_split_stability"](spark, SF_TEST).collect()
    ]
    assert got == expect
    assert sum(w for *_, w, _ in got) == BAG_B
    # near-zero gains ⇒ an unstable vote — the diagnostic's finding here
    assert len(got) > 1


def test_conformal_group_coverage_matches_pure_python(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
                   CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/lineitem.parquet'"""
    ).fetchall()
    split = []
    for ok, ln, rf, ls, y in rows:
        b = int(hashlib.md5(f"conf{ok}-{ln}".encode()).hexdigest()[:8], 16) % 5
        split.append((b, rf, ls, y))
    agg = defaultdict(lambda: [0, 0])
    for b, rf, ls, y in split:
        if b <= 2:
            agg[(rf, ls)][0] += y
            agg[(rf, ls)][1] += 1
    mu = {k: s // n for k, (s, n) in agg.items()}
    cal_g = defaultdict(list)
    for b, rf, ls, y in split:
        if b == 3:
            cal_g[(rf, ls)].append(abs(y - mu[(rf, ls)]))
    cal_all = sorted(r for rs in cal_g.values() for r in rs)
    kq = (9 * (len(cal_all) + 1) + 9) // 10
    q_glob = cal_all[kq - 1]
    expect = []
    for (rf, ls) in sorted(cal_g):
        rs = sorted(cal_g[(rf, ls)])
        n_cal = len(rs)
        q_g = rs[(9 * (n_cal + 1) + 9) // 10 - 1]
        test = [
            abs(y - mu[(rf2, ls2)])
            for b, rf2, ls2, y in split
            if b == 4 and (rf2, ls2) == (rf, ls)
        ]
        expect.append(
            (
                f"{rf}/{ls}",
                n_cal,
                q_g,
                q_glob,
                len(test),
                _round4(sum(1 for r in test if r <= q_g) / len(test)),
                _round4(sum(1 for r in test if r <= q_glob) / len(test)),
            )
        )
    got = [
        (
            r.grp,
            r.n_cal,
            r.q_hat_group,
            r.q_hat_global,
            r.n_test,
            r.coverage_group,
            r.coverage_global,
        )
        for r in registry.QUERIES["conformal_group_coverage"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # every group's own interval sits near nominal
    assert all(0.85 <= cg <= 0.95 for *_, cg, _ in got)


def test_sprt_matches_pure_python_and_stops_early(spark):
    import hashlib

    from vector_search_spark.registry_stats import SPRT_THRESH_MICRO

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT user_id, CAST(ts AS DATE) AS day,
                   max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_TEST}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    ctl_n = ctl_x = 0
    trt = defaultdict(lambda: [0, 0])
    for u, d, conv in rows:
        arm = int(hashlib.md5(f"sprt{u}".encode()).hexdigest()[:8], 16) % 2
        if arm == 0:
            ctl_n += 1
            ctl_x += conv
        else:
            trt[d][0] += 1
            trt[d][1] += conv
    p0 = float(ctl_x) / float(ctl_n)
    p1 = p0 + 0.05
    d0 = min(trt)
    cum = 0
    expect = []
    for d in sorted(trt):
        n, x = trt[d]
        l = math.floor(
            (float(x) * math.log(p1 / p0) + float(n - x) * math.log((1.0 - p1) / (1.0 - p0)))
            * 1000000.0
            + 0.5
        )
        cum += l
        state = (
            "accept_h1"
            if cum >= SPRT_THRESH_MICRO
            else ("accept_h0" if cum <= -SPRT_THRESH_MICRO else "continue")
        )
        expect.append(((d - d0).days, n, x, _round4(cum / 1000000.0), state))
        if state != "continue":
            break
    got = [
        (r.day_idx, r.n_trials, r.successes, r.cum_llr, r.state)
        for r in registry.QUERIES["ab_sprt_monitor"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # the A/A monitor must accept H0 (no +5pp lift exists) and do so
    # EARLY — sequential testing's whole value proposition
    assert got[-1][4] == "accept_h0"
    assert got[-1][0] < max((d - d0).days for d in trt)


def test_logrank_matches_pure_python_and_reads_null(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts) // 1000, event_type FROM '{SF_TEST}/events.parquet'"
    ).fetchall()
    horizon = max(r[1] for r in rows)
    signup, first_p = {}, {}
    for u, us, et in rows:
        if et == "signup" and (u not in signup or us < signup[u]):
            signup[u] = us
    for u, us, et in rows:
        if et == "purchase" and u in signup and us > signup[u]:
            if u not in first_p or us < first_p[u]:
                first_p[u] = us
    durs = []
    for u, s_us in signup.items():
        arm = int(hashlib.md5(f"logrank{u}".encode()).hexdigest()[:8], 16) % 2
        if u in first_p:
            durs.append((arm, (first_p[u] - s_us) // 86_400_000_000, 1))
        else:
            durs.append((arm, (horizon - s_us) // 86_400_000_000, 0))
    days = sorted({d for _, d, _ in durs})
    o1 = o2 = e1_micro = v_micro = n_event_days = 0
    for d in days:
        d1 = sum(1 for a, dd, e in durs if a == 0 and dd == d and e)
        d2 = sum(1 for a, dd, e in durs if a == 1 and dd == d and e)
        n1 = sum(1 for a, dd, _ in durs if a == 0 and dd >= d)
        n2 = sum(1 for a, dd, _ in durs if a == 1 and dd >= d)
        nn, ddt = n1 + n2, d1 + d2
        if ddt == 0:
            continue
        n_event_days += 1
        o1 += d1
        o2 += d2
        e1_micro += math.floor(float(ddt) * float(n1) / float(nn) * 1000000.0 + 0.5)
        frac = float(nn - ddt) / float(nn - 1) if nn > 1 else 0.0
        v_micro += math.floor(
            float(ddt) * (float(n1) / float(nn)) * (1.0 - float(n1) / float(nn)) * frac
            * 1000000.0
            + 0.5
        )
    z = (float(o1 * 1000000 - e1_micro) / 1000000.0) / math.sqrt(v_micro / 1000000.0)
    r = registry.QUERIES["logrank_test_conversion"](spark, SF_TEST).collect()[0]
    assert (r.o1, r.o2, r.n_event_days) == (o1, o2, n_event_days)
    assert r.e1 == _round4(e1_micro / 1000000.0)
    assert r.z == _round4(z)
    # exchangeable md5 arms ⇒ the survival curves are equal ⇒ null read
    assert abs(r.z) < 2.5


def test_isotonic_matches_fraction_pava(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT hour(ts), count(*),
                   sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_TEST}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    # true PAVA with exact Fraction pool means
    pools = [[Fraction(x), Fraction(n), [h]] for h, n, x in rows]
    merged = [pools[0]]
    for p in pools[1:]:
        merged.append(p)
        while len(merged) >= 2 and (
            merged[-2][0] / merged[-2][1] > merged[-1][0] / merged[-1][1]
        ):
            x2, n2, hs2 = merged.pop()
            merged[-1][0] += x2
            merged[-1][1] += n2
            merged[-1][2].extend(hs2)
    iso_true = {}
    for x, n, hs in merged:
        for h in hs:
            iso_true[h] = x / n
    got = registry.QUERIES["isotonic_hour_calibration"](spark, SF_TEST).collect()
    assert len(got) == len(rows)
    for r, (h, n, x) in zip(got, rows):
        assert (r.hour, r.n, r.x) == (h, n, x)
        assert r.raw_rate == _round4(x / n)
        # floor-monotonicity identity: the engine's quantized minimax IS
        # floor(1e9 · true PAVA), re-rounded to 4 dp on emit
        iso_nano = (iso_true[h].numerator * 10**9) // iso_true[h].denominator
        assert r.iso_rate == _round4(iso_nano / 1e9)
    # the fitted curve is nondecreasing (the isotonic constraint)
    iso_vals = [r.iso_rate for r in got]
    assert all(a <= b + 1e-12 for a, b in zip(iso_vals, iso_vals[1:]))


def test_tree_depth3_matches_pure_python(spark):
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(floor(l_quantity + 0.5) AS BIGINT),
                   CAST(floor(l_discount*100 + 0.5) AS BIGINT),
                   CAST(floor(l_tax*100 + 0.5) AS BIGINT),
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
            FROM '{SF_TEST}/lineitem.parquet'"""
    ).fetchall()
    feats = ["quantity", "discount_pct", "tax_pct"]
    fidx = {f: i for i, f in enumerate(feats)}

    def gini_gain(nl, pl, n, p):
        nd, pd = float(n), float(p)
        nld, pld = float(nl), float(pl)
        nrd, prd = nd - nld, pd - pld
        parent = 1.0 - (pd / nd) * (pd / nd) - ((nd - pd) / nd) * ((nd - pd) / nd)
        left = 1.0 - (pld / nld) * (pld / nld) - ((nld - pld) / nld) * ((nld - pld) / nld)
        right = 1.0 - (prd / nrd) * (prd / nrd) - ((nrd - prd) / nrd) * ((nrd - prd) / nrd)
        return parent - ((nld / nd) * left + (nrd / nd) * right)

    def best_split(subset):
        n = len(subset)
        p = sum(r[3] for r in subset)
        best = None
        for fi, fname in enumerate(feats):
            hist = defaultdict(lambda: [0, 0])
            for r in subset:
                hist[r[fi]][0] += 1
                hist[r[fi]][1] += r[3]
            cum_n = cum_p = 0
            for val in sorted(hist):
                cum_n += hist[val][0]
                cum_p += hist[val][1]
                if cum_n >= n:
                    continue
                g = math.floor(gini_gain(cum_n, cum_p, n, p) * 1e9 + 0.5)
                key = (-g, fname, val)
                if best is None or key < best[0]:
                    best = (key, (fname, val, g, n, p, cum_n, cum_p))
        return None if best is None else best[1]

    def split_rows(subset, f, v):
        return (
            [r for r in subset if r[fidx[f]] <= v],
            [r for r in subset if r[fidx[f]] > v],
        )

    expect = {}
    root = best_split(rows)
    expect["root"] = root
    l1, r1 = split_rows(rows, root[0], root[1])
    for node, subset in (("left", l1), ("right", r1)):
        s = best_split(subset)
        if s is None:
            continue
        expect[node] = s
        cl, cr = split_rows(subset, s[0], s[1])
        for suffix, child in ((".left", cl), (".right", cr)):
            s2 = best_split(child)
            if s2 is not None:
                expect[node + suffix] = s2

    want = [
        (
            node, f, v, _round4(g / 1e9), n, p, cn, cp, n - cn, p - cp,
        )
        for node, (f, v, g, n, p, cn, cp) in sorted(expect.items())
    ]
    got = [
        (
            r.node, r.feature, r.threshold, r.gain, r.n_node, r.pos_node,
            r.n_left, r.pos_left, r.n_right, r.pos_right,
        )
        for r in registry.QUERIES["decision_tree_depth3"](spark, SF_TEST).collect()
    ]
    assert got == want
    # refinement invariants: each level partitions its parent's rows
    by = {t[0]: t for t in got}
    assert by["left"][4] + by["right"][4] == by["root"][4]
    for parent in ("left", "right"):
        kids = [by[k] for k in (f"{parent}.left", f"{parent}.right") if k in by]
        if len(kids) == 2:
            assert kids[0][4] + kids[1][4] == by[parent][4]
            assert kids[0][5] + kids[1][5] == by[parent][5]
    # depth 3 really grew past depth 2
    assert any("." in t[0] for t in got)


def test_group_sequential_matches_pure_python_and_never_stops(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT user_id, CAST(ts AS DATE) AS day,
                   max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_TEST}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    d0 = min(d for _, d, _ in rows)
    wk = defaultdict(lambda: [0, 0, 0, 0])  # w -> [n1, x1, n0, x0]
    for u, d, conv in rows:
        arm = int(hashlib.md5(f"sprt{u}".encode()).hexdigest()[:8], 16) % 2
        w = (d - d0).days // 7
        if arm == 1:
            wk[w][0] += 1
            wk[w][1] += conv
        else:
            wk[w][2] += 1
            wk[w][3] += conv
    weeks = sorted(wk)
    kk = len(weeks)
    cn1 = cx1 = cn0 = cx0 = 0
    expect = []
    for k, w in enumerate(weeks, start=1):
        n1, x1, n0, x0 = wk[w]
        cn1 += n1
        cx1 += x1
        cn0 += n0
        cx0 += x0
        # mirrors _GS_Z operand order exactly
        pool = (cx1 + cx0) * 1.0 / (cn1 + cn0)
        z = ((cx1 * 1.0 / cn1) - (cx0 * 1.0 / cn0)) / math.sqrt(
            pool * (1.0 - pool) * ((1.0 / cn1) + (1.0 / cn0))
        )
        z_t = math.floor(abs(z) * 10000 + 0.5)
        obf_t = math.floor(1.96 * math.sqrt(float(kk) / float(k)) * 10000 + 0.5)
        peto_t = math.floor((1.96 if k == kk else 3.0) * 10000 + 0.5)
        expect.append(
            (
                w, k, kk, cn1, cx1, cn0, cx0, _round4(z),
                obf_t / 10000.0, peto_t / 10000.0,
                "stop" if z_t >= obf_t else "continue",
                "stop" if z_t >= peto_t else "continue",
            )
        )
    got = [
        (
            r.week_idx, r.analysis_k, r.n_analyses, r.cn1, r.cx1, r.cn0, r.cx0,
            r.z, r.obf_bound, r.peto_bound, r.obf_state, r.peto_state,
        )
        for r in registry.QUERIES["ab_group_sequential"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # A/A arms: neither boundary rule may ever fire — the monitor's null
    # read, and the OBF shape must be strictly decreasing toward 1.96
    assert all(t[10] == "continue" and t[11] == "continue" for t in got)
    bounds = [t[8] for t in got]
    assert all(a > b for a, b in zip(bounds, bounds[1:]))
    assert bounds[-1] == 1.96


def test_ses_matches_dyadic_rebuild_and_recurrence(spark):
    from vector_search_spark.registry_forecast import SES_MAX_E

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(ts AS DATE) AS day,
                   sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet'
            WHERE event_type = 'purchase' GROUP BY 1"""
    ).fetchall()
    d0 = min(d for d, _ in rows)
    by_t = {(d - d0).days: int(c) for d, c in rows}
    tmax = max(by_t)
    # exact integer rebuild of the truncated dyadic sum
    s_micro = 0
    lags = 0
    for t, cents in by_t.items():
        e = tmax if t == 0 else tmax - t + 1
        if e <= SES_MAX_E:
            s_micro += (cents * 1_000_000) // (2 ** e)
            lags += 1
    got = registry.QUERIES["ses_revenue_forecast"](spark, SF_TEST).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_days_span == tmax + 1
    assert r.lags_used == lags
    assert r.last_day_revenue == _round4(by_t[tmax] / 100.0)
    assert r.ses_forecast == _round4((s_micro / 1_000_000.0) / 100.0)
    # the closed form IS the SES recurrence: run s_t = x_t/2 + s_{t-1}/2
    # over EVERY day (absent days are zero-revenue observations)
    s = float(by_t.get(0, 0))
    for t in range(1, tmax + 1):
        s = 0.5 * float(by_t.get(t, 0)) + 0.5 * s
    # floor losses <= 1 micro-cent per kept term; truncation < 2^-40
    assert abs(s - s_micro / 1_000_000.0) <= 1e-3


def test_winsorized_mean_matches_sorted_python(spark):
    con = duckdb.connect()
    vals = defaultdict(list)
    for t, c in con.execute(
        f"""SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/events.parquet'"""
    ).fetchall():
        vals[t].append(c)
    got = {
        r.event_type: r
        for r in registry.QUERIES["winsorized_mean_value"](spark, SF_TEST).collect()
    }
    assert set(got) == set(vals)
    for t, cs in vals.items():
        cs.sort()
        n = len(cs)
        k = n // 10
        lo, hi = cs[k], cs[n - k - 1]
        clamped = [min(max(c, lo), hi) for c in cs]
        r = got[t]
        assert r.n == n and r.n_clamped_each_side == k
        assert r.lo_clamp == _round4(lo / 100.0)
        assert r.hi_clamp == _round4(hi / 100.0)
        assert r.winsorized_mean == _round4((sum(clamped) / n) / 100.0)
        assert r.raw_mean == _round4((sum(cs) / n) / 100.0)
        # clamping pulls the mean toward the median on a right-skewed tail
        assert r.winsorized_mean < r.raw_mean


def test_cuped_matches_pure_python(spark):
    import hashlib

    from vector_search_spark.registry_stats import CUPED_PRE_DAYS

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                   CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
            FROM '{SF_TEST}/events.parquet'"""
    ).fetchall()
    d0 = min(r[1] for r in rows)
    users = defaultdict(lambda: [0, 0])  # user -> [pre x, post y]
    for u, d, t, c in rows:
        if t != "purchase":
            continue
        if (d - d0).days < CUPED_PRE_DAYS:
            users[u][0] += c
        else:
            users[u][1] += c
    # every user appears (HANDOFF: all users purchase); include all seen users
    all_users = {r[0] for r in rows}
    for u in all_users:
        users.setdefault(u, [0, 0])
    nn = len(users)
    sx = sum(x for x, _ in users.values())
    sy = sum(y for _, y in users.values())
    sxy = sum(x * y for x, y in users.values())
    sxx = sum(x * x for x, _ in users.values())
    syy = sum(y * y for _, y in users.values())
    theta = float(nn * sxy - sx * sy) / float(nn * sxx - sx * sx)
    rho2 = (float(nn * sxy - sx * sy) * float(nn * sxy - sx * sy)) / (
        float(nn * sxx - sx * sx) * float(nn * syy - sy * sy)
    )
    arm_stats = {0: [0, 0, 0], 1: [0, 0, 0]}  # n, sx, sy
    for u, (x, y) in users.items():
        a = int(hashlib.md5(f"cuped{u}".encode()).hexdigest()[:8], 16) % 2
        arm_stats[a][0] += 1
        arm_stats[a][1] += x
        arm_stats[a][2] += y
    adj = {}
    raw = {}
    for a, (an, asx, asy) in arm_stats.items():
        adj[a] = ((asy / an) - theta * ((asx / an) - (sx / nn))) / 100.0
        raw[a] = (asy / an) / 100.0
    r = registry.QUERIES["ab_cuped_adjustment"](spark, SF_TEST).collect()[0]
    assert r.n_treat == arm_stats[1][0] and r.n_ctl == arm_stats[0][0]
    assert r.theta == _round4(theta)
    assert r.rho2 == _round4(rho2)
    assert r.diff_raw == _round4(raw[1] - raw[0])
    assert r.diff_cuped == _round4(adj[1] - adj[0])
    # the corpus has no stable per-user heterogeneity: rho^2 reads ~0,
    # i.e. CUPED honestly reports it can remove almost no variance here
    assert 0.0 <= r.rho2 < 0.2


def test_brown_trend_matches_recurrences_and_integer_rebuild(spark):
    from vector_search_spark.registry_forecast import SES_MAX_E

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(ts AS DATE) AS day,
                   sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
            FROM '{SF_TEST}/events.parquet'
            WHERE event_type = 'purchase' GROUP BY 1"""
    ).fetchall()
    d0 = min(d for d, _ in rows)
    by_t = {(d - d0).days: int(c) for d, c in rows}
    tmax = max(by_t)
    # exact integer rebuild of both truncated dyadic sums
    s1 = s2 = 0
    for t, cents in by_t.items():
        e1 = tmax if t == 0 else tmax - t + 1
        e2 = tmax + 1 if t == 0 else tmax - t + 2
        m2 = tmax + 2 if t == 0 else tmax - t + 1
        if e1 <= SES_MAX_E:
            s1 += (cents * 1_000_000) // (2 ** e1)
        if e2 <= SES_MAX_E:
            s2 += (cents * 1_000_000 * m2) // (2 ** e2)
    r = registry.QUERIES["brown_trend_forecast"](spark, SF_TEST).collect()[0]
    assert r.n_days_span == tmax + 1
    assert r.level == _round4(((2 * s1 - s2) / 1_000_000.0) / 100.0)
    assert r.trend_per_day == _round4(((s1 - s2) / 1_000_000.0) / 100.0)
    assert r.forecast_next_day == _round4(((3 * s1 - 2 * s2) / 1_000_000.0) / 100.0)
    # the closed form IS Brown's double recurrence (zero-revenue days are
    # observations of 0): run both smoothers and compare
    f1 = float(by_t.get(0, 0))
    f2 = f1
    for t in range(1, tmax + 1):
        f1 = 0.5 * float(by_t.get(t, 0)) + 0.5 * f1
        f2 = 0.5 * f1 + 0.5 * f2
    assert abs(f1 - s1 / 1_000_000.0) <= 1e-3
    assert abs(f2 - s2 / 1_000_000.0) <= 1e-3
    # Brown identities: forecast = level + trend
    assert abs((3 * s1 - 2 * s2) - ((2 * s1 - s2) + (s1 - s2))) == 0


def test_mannwhitney_matches_pure_python_and_reads_null(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT event_id, CAST(floor(value*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchall()
    arm1, arm0 = [], []
    for eid, c in rows:
        a = int(hashlib.md5(f"mwu{eid}".encode()).hexdigest()[:8], 16) % 2
        (arm1 if a == 1 else arm0).append(c)
    n1, n0 = len(arm1), len(arm0)
    # average ranks over the merged multiset (classic definition)
    merged = sorted(arm1 + arm0)
    from collections import Counter

    cnt = Counter(merged)
    rank2 = {}  # value -> doubled average rank
    before = 0
    ties3 = 0
    for v in sorted(cnt):
        t = cnt[v]
        rank2[v] = 2 * before + t + 1
        ties3 += t * t * t - t
        before += t
    w2 = sum(rank2[v] for v in arm1)
    u2 = w2 - n1 * (n1 + 1)  # doubled U1
    var = (n1 * n0 / 12.0) * (
        float(n1 + n0 + 1) - float(ties3) / (float(n1 + n0) * float(n1 + n0 - 1))
    )
    z = float(u2 - n1 * n0) / (2.0 * math.sqrt(var))
    r = registry.QUERIES["mannwhitney_value_test"](spark, SF_TEST).collect()[0]
    assert (r.n1, r.n0) == (n1, n0)
    assert r.u1 == _round4(u2 / 2.0)
    assert r.z == _round4(z)
    # A/A arms: the rank-sum test must read null
    assert abs(r.z) < 3.0


def test_welch_matches_pure_python_and_reads_null(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT event_id, CAST(floor(value*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchall()
    g = {0: [0, 0, 0], 1: [0, 0, 0]}  # n, s, ss
    for eid, c in rows:
        a = int(hashlib.md5(f"welch{eid}".encode()).hexdigest()[:8], 16) % 2
        g[a][0] += 1
        g[a][1] += c
        g[a][2] += c * c
    n1, s1, ss1 = g[1]
    n0, s0, ss0 = g[0]
    # mirrors the shared texts' operand order exactly
    v1 = (float(n1) * float(ss1) - float(s1) * float(s1)) / (
        float(n1) * float(n1 - 1)
    )
    v0 = (float(n0) * float(ss0) - float(s0) * float(s0)) / (
        float(n0) * float(n0 - 1)
    )
    se2 = v1 / float(n1) + v0 / float(n0)
    t = ((float(s1) / float(n1)) - (float(s0) / float(n0))) / math.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / float(n1)) * (v1 / float(n1)) / float(n1 - 1)
        + (v0 / float(n0)) * (v0 / float(n0)) / float(n0 - 1)
    )
    r = registry.QUERIES["ab_welch_ttest"](spark, SF_TEST).collect()[0]
    assert (r.n1, r.n0) == (n1, n0)
    assert r.mean_diff == _round4(
        ((float(s1) / float(n1)) - (float(s0) / float(n0))) / 100.0
    )
    assert r.t_stat == _round4(t)
    assert r.welch_df == _round4(df)
    # A/A arms: null read; Welch df within its theoretical bounds
    assert abs(r.t_stat) < 3.0
    assert min(n1, n0) - 1 <= r.welch_df <= n1 + n0 - 2


def test_streaming_user_day_cells_reproduce_group_sequential(spark):
    """Drained streaming (user, day, conv) cells must equal the batch
    collapse exactly, and the WHOLE group-sequential monitor recomputed
    from them (md5 arms + weekly cumulative z + OBF/Peto boundaries)
    must equal the batch query row for row — sequential testing as a
    continuously-maintainable streaming statistic."""
    import hashlib

    from vector_search_spark.streaming.events import (
        stream_events_from_parquet,
        streaming_user_day_conversion_cells,
    )

    out = streaming_user_day_conversion_cells(
        stream_events_from_parquet(spark, SF_TEST)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ud_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = [
        (r.user_id, r.day, r.conv)
        for r in spark.sql("SELECT user_id, day, conv FROM ud_cells").collect()
    ]
    batch = duckdb.connect().execute(
        f"""SELECT user_id, CAST(ts AS DATE), 
                   max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_TEST}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    assert sorted(drained) == sorted((u, d, c) for u, d, c in batch)

    # rebuild the monitor from the drained cells
    d0 = min(d for _, d, _ in drained)
    wk = defaultdict(lambda: [0, 0, 0, 0])
    for u, d, conv in drained:
        arm = int(hashlib.md5(f"sprt{u}".encode()).hexdigest()[:8], 16) % 2
        w = (d - d0).days // 7
        if arm == 1:
            wk[w][0] += 1
            wk[w][1] += conv
        else:
            wk[w][2] += 1
            wk[w][3] += conv
    weeks = sorted(wk)
    kk = len(weeks)
    cn1 = cx1 = cn0 = cx0 = 0
    expect = []
    for k, w in enumerate(weeks, start=1):
        n1, x1, n0, x0 = wk[w]
        cn1 += n1
        cx1 += x1
        cn0 += n0
        cx0 += x0
        pool = (cx1 + cx0) * 1.0 / (cn1 + cn0)
        z = ((cx1 * 1.0 / cn1) - (cx0 * 1.0 / cn0)) / math.sqrt(
            pool * (1.0 - pool) * ((1.0 / cn1) + (1.0 / cn0))
        )
        z_t = math.floor(abs(z) * 10000 + 0.5)
        obf_t = math.floor(1.96 * math.sqrt(float(kk) / float(k)) * 10000 + 0.5)
        peto_t = math.floor((1.96 if k == kk else 3.0) * 10000 + 0.5)
        expect.append(
            (
                w, k, kk, cn1, cx1, cn0, cx0, _round4(z),
                obf_t / 10000.0, peto_t / 10000.0,
                "stop" if z_t >= obf_t else "continue",
                "stop" if z_t >= peto_t else "continue",
            )
        )
    got = [
        (
            r.week_idx, r.analysis_k, r.n_analyses, r.cn1, r.cx1, r.cn0, r.cx0,
            r.z, r.obf_bound, r.peto_bound, r.obf_state, r.peto_state,
        )
        for r in registry.QUERIES["ab_group_sequential"](spark, SF_TEST).collect()
    ]
    assert got == expect


def test_power_sample_size_matches_pure_python(spark):
    con = duckdb.connect()
    nn, x, ndays = con.execute(
        f"""WITH ud AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                     max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS conv
              FROM '{SF_TEST}/events.parquet' GROUP BY 1, 2)
            SELECT count(*), sum(conv), (max(day) - min(day) + 1) FROM ud"""
    ).fetchone()
    p = float(x) / float(nn)
    zsum2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    expect = []
    for d in (1, 2, 5):
        p2 = p + float(d) / 100.0
        n = math.ceil(
            zsum2 * (p * (1.0 - p) + p2 * (1.0 - p2))
            / ((float(d) / 100.0) * (float(d) / 100.0))
        )
        days = math.ceil(float(n) * 2.0 * float(ndays) / float(nn))
        expect.append((d, _round4(p), n, days))
    got = [
        (r.delta_pp, r.p_base, r.n_per_arm, r.est_days)
        for r in registry.QUERIES["ab_power_sample_size"](spark, SF_TEST).collect()
    ]
    assert got == expect
    # smaller detectable lifts need more samples, strictly
    assert got[0][2] > got[1][2] > got[2][2]


def test_brown_forsythe_matches_pure_python_and_reads_null(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT event_id, CAST(floor(value*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchall()
    arms = {0: [], 1: []}
    for eid, c in rows:
        arms[int(hashlib.md5(f"bf{eid}".encode()).hexdigest()[:8], 16) % 2].append(c)
    meds = {}
    stats = {}
    for a, vals in arms.items():
        vals.sort()
        n = len(vals)
        med = vals[(n + 1) // 2 - 1]  # lower median, rank ceil(n/2)
        meds[a] = med
        z = [abs(v - med) for v in vals]
        stats[a] = (n, sum(z), sum(d * d for d in z))
    n1, s1, ss1 = stats[1]
    n0, s0, ss0 = stats[0]
    # mirrors the shared float texts exactly
    m1 = float(s1) / float(n1)
    m0 = float(s0) / float(n0)
    m = float(s1 + s0) / float(n1 + n0)
    ssb = float(n1) * (m1 - m) * (m1 - m) + float(n0) * (m0 - m) * (m0 - m)
    ssw = (float(ss1) - float(s1) * m1) + (float(ss0) - float(s0) * m0)
    f = (float(n1 + n0 - 2) * ssb) / ssw
    r = registry.QUERIES["brown_forsythe_variance_test"](spark, SF_TEST).collect()[0]
    assert (r.n1, r.n0) == (n1, n0)
    assert r.median_1 == _round4(meds[1] / 100.0)
    assert r.median_0 == _round4(meds[0] / 100.0)
    assert r.f_stat == _round4(f)
    # A/A arms: no variance difference exists; F(1, ~2000) 1% critical ~ 6.6
    assert 0.0 <= r.f_stat < 6.6


def test_embedding_drift_mmd_matches_pure_python_and_reads_null(spark):
    import hashlib

    from vector_search_spark.registry_extensions import _mmd_buckets

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_TEST}/embeddings.parquet'"
    ).fetchall()
    # rebuild the ADAPTIVE block count from the corpus size, exactly as
    # both engines derive it (floor 32 binds at every fixture sf)
    mmd_buckets = _mmd_buckets(len(rows))
    import math as _m

    def kern_micro(a, b):
        aa = 0.0
        for x, y in zip(a, a):
            aa += float(x) * float(y)
        ab = 0.0
        for x, y in zip(a, b):
            ab += float(x) * float(y)
        bb = 0.0
        for x, y in zip(b, b):
            bb += float(x) * float(y)
        return _m.floor(_m.exp(-(aa - 2.0 * ab + bb)) * 1000000.0 + 0.5)

    buckets = defaultdict(lambda: ([], []))  # b -> (xs, ys)
    for vid, emb in rows:
        arm = int(hashlib.md5(f"mmdarm{vid}".encode()).hexdigest()[:8], 16) % 2
        b = int(hashlib.md5(f"mmdblk{vid}".encode()).hexdigest()[:8], 16) % mmd_buckets
        buckets[b][1 - arm].append([float(v) for v in emb])  # index 0 = arm1
    sum_micro = 0
    n_buckets = 0
    for b, (xs, ys) in sorted(buckets.items()):
        if len(xs) < 2 or len(ys) < 2:
            continue
        sxx = sum(
            kern_micro(xs[i], xs[j])
            for i in range(len(xs))
            for j in range(i + 1, len(xs))
        )
        syy = sum(
            kern_micro(ys[i], ys[j])
            for i in range(len(ys))
            for j in range(i + 1, len(ys))
        )
        sxy = sum(kern_micro(x, y) for x in xs for y in ys)
        nxx = len(xs) * (len(xs) - 1) // 2
        nyy = len(ys) * (len(ys) - 1) // 2
        nxy = len(xs) * len(ys)
        m = _m.floor(
            float(sxx) / float(nxx)
            + float(syy) / float(nyy)
            - 2.0 * float(sxy) / float(nxy)
            + 0.5
        )
        sum_micro += m
        n_buckets += 1
    r = registry.QUERIES["embedding_drift_mmd"](spark, SF_TEST).collect()[0]
    assert r.n_buckets == n_buckets
    assert r.sum_micro == sum_micro
    assert r.mmd2 == _round4(sum_micro / (n_buckets * 1_000_000.0))
    # A/A split: no drift exists; MMD^2 must sit in the null band (the
    # B-test null scale is ~1/sqrt(per-bucket pairs); 0.01 is ~10 sigma)
    assert abs(r.mmd2) < 0.01


def test_cramer_von_mises_matches_pure_python_and_reads_null(spark):
    import hashlib

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT event_id, CAST(floor(value*100 + 0.5) AS BIGINT)
            FROM '{SF_TEST}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchall()
    from collections import Counter

    h1, h0 = Counter(), Counter()
    for eid, c in rows:
        a = int(hashlib.md5(f"cvm{eid}".encode()).hexdigest()[:8], 16) % 2
        (h1 if a == 1 else h0)[c] += 1
    n1, n0 = sum(h1.values()), sum(h0.values())
    cum1 = cum0 = 0
    sum_micro = 0
    for c in sorted(set(h1) | set(h0)):
        t1, t0 = h1.get(c, 0), h0.get(c, 0)
        cum1 += t1
        cum0 += t0
        d = n0 * cum1 - n1 * cum0
        # mirrors _CVM_CELL operand order exactly
        sum_micro += math.floor(
            float(t1 + t0)
            * (float(d) / (float(n1) * float(n0)))
            * (float(d) / (float(n1) * float(n0)))
            * 1000000.0
            + 0.5
        )
    t_stat = (float(n1) * float(n0) / (float(n1 + n0) * float(n1 + n0))) * (
        float(sum_micro) / 1000000.0
    )
    r = registry.QUERIES["cramer_von_mises_test"](spark, SF_TEST).collect()[0]
    assert (r.n1, r.n0) == (n1, n0)
    assert r.t_stat == _round4(t_stat)
    # A/A split: far inside the null (two-sample CvM 1% critical ~ 0.743)
    assert 0.0 <= r.t_stat < 0.743
