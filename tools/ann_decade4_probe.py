"""Fourth-decade probe for the embedding family — 8M vectors, table-reduced.

A full 10000x fixture (~150 GB) cannot fit this box next to spill, but the
embedding-family queries read ONLY the embeddings table, so their fourth
decade is probeable with an embeddings-only fixture: 4,000 key-offset
replicas of sf0.1's 2,000 vectors = 8M (4x the 1000x fixture's 2M; decade
midpoint).  bits = clamp(bit_length(8M) - 4, 4, 40) = 19, collision mass
8M * 2^-19 = 15.3/row/band — the HIGH point of the width stair-step, i.e.
the adversarial case for the adaptive banding.

Times, in one fresh 96 GB session (cold = build + first collect, the
campaign semantics): the srpw index build, `dedup_embedding_srp`,
`mutual_knn_pairs`, and `ann_ivf_topk` (the serving path, via its own
shared index).  Spark-side wall time only; bit-exactness for this region
is pinned separately (tools/srp_uncapped_probe.py at 600k with a full
DuckDB oracle, plus the shared-expression construction).

Round 11: replicas use the md5-seeded SIGNED-PERMUTATION family
(make_scaled_fixture.py default — cosine-independent replicas), and the
probe now measures band-collision candidate mass directly against the
equal-mass prediction (see inline comment).  The r10 run of this probe
on the legacy rot+sign family measured +31%/vector excess — a fixture
artifact, which the new family must erase (done = within ~±10%).

Usage: python tools/ann_decade4_probe.py [--out .scale/emb8m] [--copies 4000]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import importlib.util as _ilu
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(_HERE)
BASE = "/root/testdata/sf0.1"

_spec = _ilu.spec_from_file_location(
    "make_scaled_fixture", os.path.join(_HERE, "make_scaled_fixture.py"))
_msf = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_msf)


def build_fixture(spark, out: str, copies: int, batch: int = 200) -> None:
    """Embeddings-only replication, written in append batches so the plan
    never unions thousands of children at once."""
    from functools import reduce

    os.makedirs(out, exist_ok=True)
    for t in ("region nation customer supplier part orders lineitem "
              "events documents").split():
        lnk = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(lnk):
            os.symlink(os.path.join(BASE, f"{t}.parquet"), lnk)
    dst = os.path.join(out, "embeddings.parquet")
    if os.path.exists(dst):
        return
    base = spark.read.parquet(f"{BASE}/embeddings.parquet")
    for lo in range(0, copies, batch):
        parts = [_msf.replicate(base, "embeddings", r, copies=copies)
                 for r in range(lo, min(lo + batch, copies))]
        reduce(lambda a, b: a.unionByName(b), parts).coalesce(8).write.mode(
            "append").parquet(dst + ".tmp")
        print(f"# replicas {lo}..{min(lo + batch, copies) - 1} written",
              file=sys.stderr)
    os.rename(dst + ".tmp", dst)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, ".scale", "emb8m"))
    ap.add_argument("--copies", type=int, default=4000)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from vector_search_spark import registry
    from vector_search_spark.registry_extensions import (
        _shared_srpw_index, _srpw_band_bits,
    )
    from vector_search_spark.session import get_spark

    spark = get_spark("ann_decade4")
    build_fixture(spark, args.out, args.copies)
    n = spark.read.parquet(f"{args.out}/embeddings.parquet").count()
    bits = _srpw_band_bits(n)
    out = {"metric": "ann_decade4_probe", "n": n, "bits": bits,
           "mass": round(n * 2 ** -bits, 1), "queries": {}}

    t0 = time.perf_counter()
    ib, _ = _shared_srpw_index(spark, args.out)
    out["srpw_setup_sec"] = round(time.perf_counter() - t0, 1)
    print(f"# srpw setup {out['srpw_setup_sec']}s", file=sys.stderr)

    # Candidate-mass check (VERDICT r10 "what's missing" #2 done-criterion):
    # measured band-collision mass Σ_buckets C(cnt, 2) vs the EQUAL-MASS
    # prediction under cosine-independent replicas.  Cross-replica pairs
    # dominate (C(copies,2) replica pairs × n_base² vector pairs × bands ×
    # 2^-bits per-band random sign agreement); within-replica collisions
    # are the base corpus' own structure at the probe's band width,
    # measured directly on replica 0 and scaled by `copies`.  The r10
    # rot+sign family FAILED this check (+31%/vector): same-rotation-class
    # replicas shared sign bits, so same-base-vector cross pairs collided
    # far above the 2^-bits baseline.  The signed-perm family must land
    # within ~±10%.
    import pyspark.sql.functions as F

    t0 = time.perf_counter()
    measured = (
        ib.groupBy("band", "val").count()
        .select(F.sum(F.expr("count * (count - 1) DIV 2")).alias("m"))
        .first()["m"]
    )
    from vector_search_spark.operators.ann import srp_band_table
    from vector_search_spark.registry_extensions import _SRPW_BANDS, _SRP_DIM

    base = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_base = base.count()
    base_ib = srp_band_table(
        base, "vec_id", "embedding", _SRPW_BANDS * bits, _SRPW_BANDS,
        seed="srpw", dim=_SRP_DIM, spread=True,
    )
    within_base = (
        base_ib.groupBy("band", "val").count()
        .select(F.sum(F.expr("count * (count - 1) DIV 2")).alias("m"))
        .first()["m"]
    )
    copies = args.copies
    # Cross-term: EMPIRICAL two-independent-replica collision rate, not
    # the naive n_base² · bands · 2^-bits coin-flip model.  For random
    # 64-dim directions cos θ has sd ≈ 1/√d, and band agreement is
    # E[(1 − θ/π)^bits] — Jensen-convex in cos θ, so the true
    # independent-transform rate sits ~2-3× above 2^-bits at bits ≈ 19.
    # Measuring it on replicas 1 and 2 of the SAME signed-perm family
    # makes the prediction exactly "what pairwise-independent replicas
    # give", which is the fixture-health property under test: residual
    # excess then measures ACTUAL cross-replica correlation (the r10
    # rot+sign family's failure), not model error.
    # 20 replicas -> C(20,2) = 190 cross pairs in one tagged self-join:
    # a single replica pair's count is Poisson-noisy at ~±11%, which
    # swamps a ±10% verdict; averaging 190 pairs brings the estimator
    # under ±1% and also detects correlation between ANY two of them.
    from functools import reduce

    tagged = reduce(
        lambda a, b: a.unionByName(b),
        [
            srp_band_table(
                _msf.replicate(base, "embeddings", r, copies=copies),
                "vec_id", "embedding", _SRPW_BANDS * bits, _SRPW_BANDS,
                seed="srpw", dim=_SRP_DIM,
            ).select("band", "val").withColumn("tag", F.lit(r))
            for r in range(1, 21)
        ],
    ).localCheckpoint(eager=True)
    n_pairs_sampled = 20 * 19 // 2
    x_total = (
        tagged.alias("a")
        .join(tagged.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.val") == F.col("b.val"))
              & (F.col("a.tag") < F.col("b.tag")))
        .count()
    )
    x_hat = x_total / n_pairs_sampled
    cross_naive = (copies * (copies - 1) / 2) * n_base * n_base * _SRPW_BANDS * 2.0 ** -bits
    cross_pred = (copies * (copies - 1) / 2) * x_hat
    predicted = copies * within_base + cross_pred
    out["candidate_mass"] = {
        "measured": int(measured),
        "predicted": round(predicted),
        "within_term": copies * int(within_base),
        "cross_term": round(cross_pred),
        "x_hat_per_pair": round(x_hat, 2),
        "x_hat_pairs_sampled": n_pairs_sampled,
        "cross_term_naive_2pow": round(cross_naive),
        "excess_pct": round(100.0 * (measured - predicted) / predicted, 1),
        "per_vector_measured": round(measured / n, 2),
        "per_vector_predicted": round(predicted / n, 2),
        "check_sec": round(time.perf_counter() - t0, 1),
    }
    print(f"# candidate mass: {out['candidate_mass']}", file=sys.stderr)

    for name in ("dedup_embedding_srp", "mutual_knn_pairs", "ann_ivf_topk"):
        t0 = time.perf_counter()
        try:
            rows = registry.QUERIES[name](spark, args.out).collect()
            out["queries"][name] = {
                "cold_sec": round(time.perf_counter() - t0, 1),
                "rows": len(rows),
            }
        except Exception as e:  # noqa: BLE001
            out["queries"][name] = {"error": str(e)[:300]}
        print(f"# {name}: {out['queries'][name]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
