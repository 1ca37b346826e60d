"""Build a deterministic N× scaled fixture from an existing testdata dir.

Usage:
    python tools/make_scaled_fixture.py [--base /root/testdata/sf0.1] \
        [--out /root/repo/.scale/sf1] [--copies 10]

The driver ships sf{0.001,0.01,0.1} only; the 100 TB story needs at least
one MEASURED decade of scaling (VERDICT r4 next-round #1).  This tool
derives an sf1-equivalent instance from sf0.1 by key-offset replication —
it never touches /root/testdata and the output lives under the repo's
gitignored .scale/ dir.

Replication design (replica r = 0..copies-1, offset = r * 10_000_000):

- region / nation: dimensions, copied once (FKs from replicated facts
  still resolve).
- customer / supplier / part / orders / lineitem / events: every key and
  foreign key gets the replica offset, so each replica is a disjoint but
  fully joinable copy of the base instance (lineitem->orders->customer
  and lineitem->part/supplier joins hit exactly one replica's rows).
- documents.text: per-replica Caesar substitution over [a-zA-Z].  A char
  bijection preserves every WITHIN-replica relationship exactly (exact-dup
  groups, shingle equality, n-gram Jaccard, token counts) while destroying
  CROSS-replica shingle overlap — naive row duplication would give every
  doc 9 identical twins and near-dup candidate pairs would grow
  quadratically in the replica count, which measures the fixture, not the
  engine.  n_chars is unchanged (bijection).
- embeddings.embedding: per-replica md5-seeded SIGNED PERMUTATION of the
  coordinates (independent random permutation + independent ±1 sign per
  coordinate, replica 0 = identity).  Any signed permutation is
  orthogonal, so norms and all within-replica angles are exact;
  cross-replica cosines behave like independent random vectors
  (E = 0, sd ≈ 1/√dim) because the coordinate alignments between two
  independently-permuted copies are themselves random.  Round 11 lesson
  (VERDICT r10 "what's missing" #2): the previous family — circular
  rotation composed with a ±1 diagonal chosen from q = r // 64 — has only
  64 rotation classes, and two replicas in the SAME class differ only by
  a diagonal sign pattern, so their cosine is Σ s_j s'_j v_j², which is
  cosine-CORRELATED (nearby q share most sign bits).  At 4,000 copies the
  fixture planted genuinely-near-dup cross-replica pairs that grew
  quadratically in the class population — the decade-4 probe measured
  the fixture, not the engine.  The legacy family stays available as
  --emb-family rotsign for bit-identical reproduction of pre-r11
  fixtures.
- timestamps are never shifted: a day at sf1 holds copies× the rows of the
  same day at the base sf, which is exactly how a denser corpus scales.

Everything is a pure column expression — one Spark job per table, no
Python row path.
"""

from __future__ import annotations

import argparse
import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from vector_search_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

OFFSET = 10_000_000

# (key columns to offset) per table; dimensions are copied once.
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]


def _md5_letter_perm(d: int):
    """Deterministic full 26-letter permutation keyed by d: argsort of
    md5("{d}:{i}") over i = 0..25.  d = 0 returns the identity so every
    fixture built with copies <= 312 reproduces bit-identically."""
    if d == 0:
        return list(range(26))
    import hashlib

    keys = [hashlib.md5(f"sgfix-letters-{d}:{i}".encode()).hexdigest() for i in range(26)]
    return sorted(range(26), key=lambda i: keys[i])


def _caesar_cols(r: int):
    """Per-replica AFFINE cipher x -> a*x + b (mod 26), a coprime to 26:
    312 distinct letter bijections.  (A plain Caesar shift has period 26 —
    at copies > 26 replica pairs 26 apart would carry IDENTICAL text,
    planting the cross-replica duplicates this fixture exists to avoid.)
    Past 312 copies the affine family alone repeats, so replicas >= 312
    compose the affine map with an md5-seeded full 26-LETTER permutation
    keyed by d = r // 312 (ADVICE r7: the old digit-cipher layer never
    fired on the real corpus — every document is digit-free, so replica
    pairs 312 apart carried byte-identical text).  Letters are what the
    corpus is made of; perturbing them keeps every replica distinct at any
    buildable copy count.  main() asserts pairwise-distinct maps for the
    requested copy count up front.  The digit layer is kept as extra
    entropy for corpora that DO contain digits.  r = 0 is the identity."""
    lo = string.ascii_lowercase
    up = string.ascii_uppercase
    coprime = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
    a, b = coprime[(r // 26) % 12], r % 26
    d = r // 312  # md5-permutation index; 0 (identity) for the first 312
    pd = _md5_letter_perm(d)
    perm = [pd[(a * i + b) % 26] for i in range(26)]
    src = lo + up
    dst = "".join(lo[p] for p in perm) + "".join(up[p] for p in perm)
    if d:
        da, db = [1, 3, 7, 9][(d // 10) % 4], d % 10
        dperm = [(da * i + db) % 10 for i in range(10)]
        src += string.digits
        dst += "".join(string.digits[p] for p in dperm)
    return src, dst


_INT_MAX = {"integer": (1 << 31) - 1, "long": (1 << 63) - 1, "short": (1 << 15) - 1}


def _emb_signed_perm(r: int, dim: int):
    """Replica r's signed permutation: an md5-argsort permutation of the
    dim coordinates plus an independent md5-derived ±1 per coordinate.
    r = 0 is the identity (base replica bit-identical).  Deterministic,
    and pairwise-distinct for any buildable copy count (main() asserts)."""
    if r == 0:
        return list(range(dim)), [1] * dim
    import hashlib

    keys = [
        hashlib.md5(f"sgfix-embperm-{r}:{j}".encode()).hexdigest()
        for j in range(dim)
    ]
    perm = sorted(range(dim), key=lambda j: keys[j])
    signs = [
        1 if int(hashlib.md5(f"sgfix-embsign-{r}:{j}".encode()).hexdigest(), 16) & 1
        else -1
        for j in range(dim)
    ]
    return perm, signs


_EMB_DIM_CACHE: dict = {}


def _emb_dim(df) -> int:
    """Vector dimensionality of an embeddings frame, probed once per df
    object (both callers loop replicas over ONE base frame, so id(df) is
    a stable live key)."""
    key = id(df)
    if key not in _EMB_DIM_CACHE:
        _EMB_DIM_CACHE[key] = int(
            df.select(F.size(F.col("embedding")).alias("d")).head()[0]
        )
    return _EMB_DIM_CACHE[key]


def replicate(df, table: str, r: int, copies: int = 0, emb_family: str = "signed-perm"):
    """Replica r of a table.  Key math runs in BIGINT; the result is cast
    back to the column's dtype only when the LARGEST replica's offset still
    fits it — otherwise the column widens to BIGINT for every replica
    (uniform output schema), instead of silently wrapping.  HANDOFF-r6's
    predicted 1000× failure class: int32 ids + 999 × 10M offsets."""
    out = df
    for c in KEYED[table]:
        dt = df.schema[c].dataType
        fits = _INT_MAX.get(dt.typeName(), 0) >= (max(copies, r + 1) - 1) * OFFSET + OFFSET - 1
        shifted = F.col(c).cast("long") + F.lit(r * OFFSET)
        out = out.withColumn(c, shifted.cast(dt) if fits else shifted)
    if table == "documents" and r > 0:
        src, dst = _caesar_cols(r)
        out = out.withColumn("text", F.translate(F.col("text"), src, dst))
    if table == "embeddings" and r > 0 and emb_family == "signed-perm":
        # md5-seeded signed permutation (the r11 default — see module
        # docstring).  ONE zip_with over two literal int arrays, not a
        # dim-wide F.array of element_at picks: a 4,000-replica build
        # unions hundreds of replicas per write batch, and at 64
        # expression nodes per replica Catalyst analysis went
        # effectively quadratic (the first probe build stalled for tens
        # of minutes per batch).  s * x with s ∈ {-1, 1} is an exact
        # IEEE sign flip / identity, so the floats are bit-identical to
        # the expanded form (pinned by test_signed_perm_spark_matches_python).
        dim = _emb_dim(df)
        perm, signs = _emb_signed_perm(r, dim)
        pcsv = ",".join(str(p + 1) for p in perm)
        scsv = ",".join(str(s) for s in signs)
        out = out.withColumn(
            "embedding",
            F.expr(
                f"zip_with(array({pcsv}), array({scsv}),"
                f" (p, s) -> s * element_at(embedding, p))"
            ),
        )
    elif table == "embeddings" and r > 0:
        # rotation by r mod dim, composed with a per-coordinate ±1 sign
        # pattern: rotation alone has period dim (64), so at copies > 64
        # replica pairs 64 apart would carry IDENTICAL vectors.  Any
        # diagonal ±1 matrix is orthogonal (within-replica angles exact);
        # the sign pattern is chosen from q = r // 64 so no two replicas
        # ever share (rotation, signs): q = 0 identity, q = 1 global flip
        # (both legacy — fixtures built before the extension reproduce
        # bit-identically), q ≥ 2 flips coordinate j iff bit j of q is
        # set — 64·2^64 distinct transforms, far past any buildable copy
        # count.  slice() with r >= dim errors outright (negative length).
        k = f"pmod({r}, size(embedding))"
        rot = (
            f"concat(slice(embedding, {k} + 1, size(embedding) - {k}),"
            f" slice(embedding, 1, {k}))"
        )
        q = r // 64
        if q == 0:
            expr = rot
        elif q == 1:
            expr = f"transform({rot}, x -> -x)"
        else:
            expr = (
                f"transform({rot}, (x, j) -> "
                f"IF((CAST({q} AS BIGINT) >> pmod(j, 64)) % 2 = 1, -x, x))"
            )
        out = out.withColumn("embedding", F.expr(expr))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1"))
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument(
        "--emb-family", default="signed-perm", choices=["signed-perm", "rotsign"],
        help="embedding replica transform: signed-perm (r11 default, "
        "cosine-independent replicas) or rotsign (legacy, reproduces "
        "pre-r11 fixtures bit-identically)",
    )
    args = ap.parse_args()

    if args.emb_family == "signed-perm":
        # Distinctness guard for the embedding transforms, mirroring the
        # letter-cipher guard below: every replica's (perm, signs) must
        # differ or cross-replica vector twins would plant fake near-dups.
        dim = 64  # assert at the house dim; _emb_dim re-probes at build
        maps = {tuple(_emb_signed_perm(r, dim)[0]) + tuple(_emb_signed_perm(r, dim)[1])
                for r in range(args.copies)}
        assert len(maps) == args.copies, (
            f"embedding signed-perms collide: {args.copies} replicas -> "
            f"{len(maps)} distinct maps"
        )

    # Cipher-distinctness guard: every replica's LETTER map must differ
    # (the corpus is digit-free, so the digit layer contributes nothing —
    # ADVICE r7).  O(copies) strings, trivial at any buildable count.
    letter_maps = {_caesar_cols(r)[1][:52] for r in range(args.copies)}
    assert len(letter_maps) == args.copies, (
        f"letter ciphers collide: {args.copies} replicas -> "
        f"{len(letter_maps)} distinct maps; cross-replica text twins would "
        "plant fake duplicates"
    )

    spark = get_spark("make-scaled-fixture", cpus=args.cpus, shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    for t in DIMS:
        df = spark.read.parquet(f"{args.base}/{t}.parquet")
        df.write.mode("overwrite").parquet(f"{args.out}/{t}.parquet")
        print(f"{t}: copied once ({df.count()} rows)")

    for t in KEYED:
        base = spark.read.parquet(f"{args.base}/{t}.parquet")
        # Offset-collision guard: replica key ranges are disjoint only if
        # every base key is below OFFSET (a 1000× build FROM AN ALREADY
        # SCALED fixture would violate this silently).
        maxes = base.select(*[F.max(c) for c in KEYED[t]]).first()
        assert all(m is None or m < OFFSET for m in maxes), (
            f"{t}: base keys reach {max(maxes)} >= OFFSET {OFFSET}; "
            "replica ranges would overlap — scale from the ORIGINAL base"
        )
        # Chunked append writes: a single copies-wide unionByName is a
        # copies-branch plan (Catalyst analysis goes quadratic near 1000);
        # 25-replica chunks keep plan width bounded at any copy count.
        first = True
        for lo in range(0, args.copies, 25):
            chunk = None
            for r in range(lo, min(lo + 25, args.copies)):
                rep = replicate(base, t, r, copies=args.copies,
                                emb_family=args.emb_family)
                chunk = rep if chunk is None else chunk.unionByName(rep)
            chunk.write.mode("overwrite" if first else "append").parquet(
                f"{args.out}/{t}.parquet"
            )
            first = False
        n = spark.read.parquet(f"{args.out}/{t}.parquet").count()
        print(f"{t}: {n} rows ({args.copies}x)")


if __name__ == "__main__":
    main()
