"""Tests of the benchmark itself: generator, output checks, self times.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
from reference import (  # noqa: E402
    Filters,
    Index,
    SearchReference,
    check_batch,
    check_ingest,
    check_interactive,
    fold_scores,
    rerank_score,
    round4,
)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------
def test_generator_is_a_function_of_the_seed():
    assert corpus.generate_issues(7, 0, 30) == corpus.generate_issues(7, 0, 30)
    assert corpus.generate_queries(7, 20) == corpus.generate_queries(7, 20)
    assert corpus.generate_issues(7, 0, 30) != corpus.generate_issues(8, 0, 30)
    assert corpus.generate_queries(7, 20) != corpus.generate_queries(8, 20)


def test_batches_split_anywhere_give_the_same_issues():
    whole = corpus.generate_issues(3, 0, 12)
    parts = {**corpus.generate_issues(3, 0, 5), **corpus.generate_issues(3, 5, 7)}
    assert whole == parts


def test_issues_have_the_parsed_structure():
    for name, text in corpus.generate_issues(5, 0, 40).items():
        assert name.endswith(".md") and text.startswith("# 3-2-1: ")
        for header in ("## 3 IDEAS FROM ME", "## 2 QUOTES FROM OTHERS", "## 1 QUESTION FOR YOU"):
            assert text.count(header) == 1
        assert text.count("*Source:* [") == 1 and text.count("*Source:* *") == 1
        assert "[Share this on Twitter]" in text and "Until next week" in text
        # the chunker splits on [IVX]+\. anywhere: only the 5 numerals may match
        assert len(re.findall(r"[IVX]+\.", text)) == 5


# ---------------------------------------------------------------------------
# search checks
# ---------------------------------------------------------------------------
def _index(n=60, dim=8, seed=0) -> Index:
    rng = np.random.default_rng(seed)
    emb = rng.normal(size=(n, dim))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    dates = [f"2020-01-{1 + i % 28:02d}" for i in range(n)]
    text = [f"chunk text number {i} " + "x" * (i % 70) for i in range(n)]
    return Index(
        ids=[f"{(i * 7919) % 1000:016x}" for i in range(n)],
        text=text,
        date=dates,
        title=[f"title {d}" for d in dates],
        url=[f"https://example.com/{d}" for d in dates],
        category=["idea"] * n,
        year=[2020] * n,
        emb=emb,
    )


def _reference(index: Index, queries: list[str]) -> SearchReference:
    ref = SearchReference(index, k=20, limit=5)
    rng = np.random.default_rng(1)
    ref.add_queries(queries, [list(v / np.linalg.norm(v)) for v in rng.normal(size=(len(queries), index.emb.shape[1]))])
    return ref


def _engine_rows(ref: SearchReference, queries: list[str], f: Filters) -> list[tuple]:
    return [
        (qid, ref.index.ids[i], round4(s), round4(rr), n + 1)
        for qid, q in enumerate(queries)
        for n, (i, s, rr) in enumerate(ref.answer(q, f))
    ]


def test_fold_matches_a_python_left_to_right_sum():
    emb = _index(n=5, dim=16).emb
    q = np.random.default_rng(3).normal(size=(2, 16))
    got = fold_scores(emb, q)
    for r in range(5):
        for j in range(2):
            acc = 0.0
            for i in range(16):
                acc = acc + float(emb[r, i]) * float(q[j, i])
            assert got[r, j] == acc  # bit-equal, not approximately equal


def test_reference_breaks_knn_ties_by_id():
    index = _index(n=6, dim=2)
    index.emb[:] = [1.0, 0.0]  # every row ties on the knn score
    ref = SearchReference(index, k=2, limit=2)
    ref.add_queries(["q"], [[1.0, 0.0]])
    picked = {index.ids[i] for i, _, _ in ref.answer("q", Filters(min_score=-10.0))}
    assert picked == set(sorted(index.ids)[:2])


def test_reference_lets_null_dates_pass():
    index = _index()
    queries = ["a"]
    ref = _reference(index, queries)
    f = Filters(min_score=-10.0, from_date="2099-01-01")
    assert ref.answer("a", f) == []
    for i in range(len(index)):
        index.date[i] = None
    assert len(ref.answer("a", f)) == ref.limit


def test_rerank_formula():
    assert rerank_score("q", "t") == rerank_score("q", "t")
    assert -4.0 <= rerank_score("hello", "world") < 4.0


@pytest.fixture
def batch():
    index = _index()
    queries = ["alpha", "beta", "gamma"]
    ref = _reference(index, queries)
    f = Filters(min_score=-1.0, from_date="2020-01-05")
    rows = _engine_rows(ref, queries, f)
    assert check_batch(ref, queries, f, rows) == []
    return ref, queries, f, rows


def test_batch_check_rejects_swapped_ids(batch):
    ref, queries, f, rows = batch
    a, b = rows[0], rows[1]
    rows[0], rows[1] = (a[0], b[1], *a[2:]), (b[0], a[1], *b[2:])
    assert check_batch(ref, queries, f, rows)


def test_batch_check_rejects_a_score_off_by_1e4(batch):
    ref, queries, f, rows = batch
    qid, cid, knn, score, rank = rows[3]
    rows[3] = (qid, cid, knn, round4(score + 1e-4), rank)
    assert check_batch(ref, queries, f, rows)
    rows[3] = (qid, cid, round4(knn + 1e-4), score, rank)
    assert check_batch(ref, queries, f, rows)


def test_batch_check_rejects_a_missing_row(batch):
    ref, queries, f, rows = batch
    del rows[random.Random(0).randrange(len(rows))]
    assert check_batch(ref, queries, f, rows)


@pytest.fixture
def call():
    index = _index()
    ref = _reference(index, ["alpha"])
    f = Filters(min_score=-2.0)
    results = []
    for i, _, rr in ref.answer("alpha", f):
        t = index.text[i]
        results.append({
            "title": index.title[i], "date": index.date[i], "category": index.category[i],
            "url": index.url[i], "text": t, "snippet": t[:50] + "..." if len(t) > 50 else t,
            "score": round4(rr),
        })
    result = {
        "query": "alpha",
        "filters": {"from_date": None, "to_date": None, "min_score": -2.0, "limit": ref.limit},
        "total_results": len(results),
        "results": results,
    }
    assert check_interactive(ref, "alpha", f, result) == []
    return ref, f, result


def test_interactive_check_rejects_swapped_rows(call):
    ref, f, result = call
    r = result["results"]
    r[0], r[1] = r[1], r[0]
    assert check_interactive(ref, "alpha", f, result)


def test_interactive_check_rejects_a_score_off_by_1e4(call):
    ref, f, result = call
    result["results"][2]["score"] = round4(result["results"][2]["score"] - 1e-4)
    assert check_interactive(ref, "alpha", f, result)


def test_interactive_check_rejects_a_missing_row(call):
    ref, f, result = call
    result["results"].pop()
    result["total_results"] -= 1
    assert check_interactive(ref, "alpha", f, result)


# ---------------------------------------------------------------------------
# against the engine (starts a small Spark session)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    root = os.path.dirname(HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from vector_search_spark.session import get_spark

    s = get_spark(
        "perfbench-test", cpus=2, shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": str(tmp_path_factory.mktemp("spark"))},
    )
    yield s
    s.stop()


def test_each_issue_is_six_chunks_and_the_ingest_check_passes(spark, tmp_path):
    from tracing import Tracer
    from workloads import DIM, trace_ingest
    from vector_search_spark.encoders import HashEncoder

    issues = corpus.generate_issues(11, 360, 8)  # spans a year boundary
    corpus.write_issues(str(tmp_path / "in"), issues)
    enc = HashEncoder(dim=DIM)
    out = str(tmp_path / "out")
    _, layers = trace_ingest(Tracer(spark), str(tmp_path / "in"), out, enc, "op0", len(issues))
    assert layers["operators.chunker.chunks_per_issue"] == corpus.CHUNKS_PER_ISSUE
    assert check_ingest(out, issues, enc, list(range(0, 48, 5))) == []
    # the check notices a missing issue and a wrong embedding encoder
    fewer = dict(list(issues.items())[1:])
    assert check_ingest(out, fewer, enc, [0])
    assert check_ingest(out, issues, HashEncoder(dim=DIM, seed="other"), [0])


def test_layer_self_times_add_up_to_the_untraced_chain_time(spark, tmp_path):
    """The ingest layers' self times, write included, plus the chain's
    driver-side construction, sum to about the time of the same chain run
    untraced, timed on its own."""
    from tracing import Tracer
    from workloads import DIM, ingest, trace_ingest
    from vector_search_spark.encoders import HashEncoder

    issues = corpus.generate_issues(13, 0, 40)
    in_dir = str(tmp_path / "in")
    corpus.write_issues(in_dir, issues)
    enc, tracer = HashEncoder(dim=DIM), Tracer(spark)
    for r in range(3):
        ingest(spark, in_dir, str(tmp_path / f"warm{r}"), enc)
    layers = ("plans.ingest.build_ms", "sources.files.scan_ms", "operators.chunker.chunk_ms", "encoders.embed_ms", "plans.ingest.write_ms")
    untraced, summed = [], []
    for r in range(3):
        t = time.perf_counter()
        ingest(spark, in_dir, str(tmp_path / f"untraced{r}"), enc)
        untraced.append((time.perf_counter() - t) * 1000.0)
        _, lay = trace_ingest(tracer, in_dir, str(tmp_path / f"traced{r}"), enc, f"op{r}", len(issues))
        summed.append(sum(lay[k] for k in layers))
    assert statistics.median(summed) == pytest.approx(statistics.median(untraced), rel=0.25)


def test_pin_client_puts_this_thread_and_its_gateway_thread_on_one_cpu(spark):
    import run

    before = os.sched_getaffinity(0)
    _, tid = run.gateway_thread(spark)
    try:
        pinned = run.pin_client(spark)
        assert pinned["cpu"] == max(before)
        assert os.sched_getaffinity(0) == {pinned["cpu"]}
        assert run.gateway_thread(spark)[1] == tid
        assert os.sched_getaffinity(tid) == {pinned["cpu"]}
    finally:
        os.sched_setaffinity(0, before)
        os.sched_setaffinity(tid, before)
