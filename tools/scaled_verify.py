"""Bit-exact verification at SCALED fixtures via a replica slice — the
md5-slice-oracle plan from VERDICT r7 #2, made concrete.

Problem: `oracle_probe_100x_r7.json` measured 22 DuckDB-oracle timeouts at
100x (pair/graph/suffix families whose Spark side runs in seconds) — full
oracles stop being feasible one decade before the Spark engine does, so
the 1000x run would otherwise be unverified for exactly the families where
a scale bug would hide.

Approach: the scaled fixtures are key-offset REPLICAS of sf0.1 (disjoint
key ranges, per-replica text cipher / embedding rotation — see
make_scaled_fixture.py).  Extracting one replica and rebasing its keys to
the base range yields a complete, FK-consistent, sf0.1-sized instance that
BOTH engines can run every oracle on bit-exactly in normal time:

- it verifies the engine's read path THROUGH the big fixture (the slice is
  filtered out of the 17 GB files, so parquet predicate pushdown and
  row-group pruning are on the line),
- it verifies the fixture transform itself (pick a replica with
  d = r // 312 > 0 and the md5 letter permutation + sign-pattern embedding
  transform are what the oracles chew on),
- and it is a DETERMINISTIC slice: same replica, same bytes, same hashes.

The full-corpus runs stay covered by the complementary pins this tool does
NOT duplicate: bench.py's per-query rows+checksum record at the full
fixture (stable across partitioning regimes and re-runs) and the decade
classification in tools/decade_compare.py.

Keys are rebased (offset subtracted) so data-keyed oracle constants —
knn_topk's `vec_id = 0`, the demo caps' lowest-K ids — bind to real rows;
without rebasing every such query would compare empty-vs-empty and prove
nothing.  Rebased key columns may stay BIGINT where the scaled fixture
widened them; the compare is value-based (driver-comparator semantics), so
int32-vs-int64 does not mis-hash.

Usage:
    python tools/scaled_verify.py <scaled_sf_dir> <tag> [--replica 777] \
        [--slice-dir auto] [--only name ...] [--rebuild-slice]

Prints one JSON line:
    {"metric": "scaled_verify", "tag", "sf_dir", "replica", "queries":
     {name: {"match": true, "rows": n} | {"rows_only": n} |
            {"error"/"mismatch_detail": ...}}}
Exit 1 on any mismatch/error.
"""

from __future__ import annotations

import argparse
import importlib.util as _ilu
import json
import math
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))

_spec = _ilu.spec_from_file_location(
    "make_scaled_fixture", os.path.join(_HERE, "make_scaled_fixture.py")
)
_msf = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_msf)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def extract_slice(spark, base: str, out: str, replica: int) -> None:
    """Materialize replica `replica` of a scaled fixture, keys rebased to
    the base range.  Dimensions copy as-is; keyed tables filter on the
    replica's key range (every key column of a row carries the same
    replica offset by construction) and subtract the offset."""
    import pyspark.sql.functions as F

    os.makedirs(out, exist_ok=True)
    lo = replica * _msf.OFFSET
    hi = lo + _msf.OFFSET
    for t in _msf.DIMS:
        spark.read.parquet(f"{base}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    for t, keys in _msf.KEYED.items():
        df = spark.read.parquet(f"{base}/{t}.parquet")
        sliced = df.filter((F.col(keys[0]) >= lo) & (F.col(keys[0]) < hi))
        for c in keys:
            dt = df.schema[c].dataType.typeName()
            sliced = sliced.withColumn(c, (F.col(c) - F.lit(lo)).cast(dt))
        n = sliced.count()
        assert n > 0, f"{t}: replica {replica} slice is empty — wrong fixture?"
        sliced.coalesce(4).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"# slice {t}: {n} rows", file=sys.stderr)


def _norm_cell(v):
    """Driver-comparator cell semantics (mirrors tests/conftest.py)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", round(v, 4))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def _key(row):
    return tuple((c is None, str(c)) for c in row)


def main() -> None:
    from vector_search_spark.session import DEFAULT_CPUS

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("tag")
    ap.add_argument("--replica", type=int, default=777,
                    help="replica to slice; pick one with r//312 > 0 on a "
                         "1000x fixture to exercise the md5 letter perm")
    ap.add_argument("--slice-dir", default=None)
    ap.add_argument("--rebuild-slice", action="store_true")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    args = ap.parse_args()

    import duckdb

    from vector_search_spark import registry
    from vector_search_spark.session import get_spark

    slice_dir = args.slice_dir or (
        args.sf_dir.rstrip("/") + f"_slice{args.replica}"
    )
    spark = get_spark("scaled-verify", cpus=args.cpus, shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if args.rebuild_slice or not os.path.exists(f"{slice_dir}/embeddings.parquet"):
        t0 = time.perf_counter()
        extract_slice(spark, args.sf_dir, slice_dir, args.replica)
        print(f"# slice extracted in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)

    con = duckdb.connect()
    # Bound DuckDB's spill so a slice-infeasible oracle (graph_kcore's
    # recursive CTE spilled >60 GB at sf0.1 scale) errors cleanly instead
    # of filling the disk under the rest of the campaign.
    con.execute("SET max_temp_directory_size='24GiB'")
    for t in TABLES:
        p = f"{slice_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    names = args.only or sorted(registry.QUERIES)
    rec = {
        "metric": "scaled_verify",
        "tag": args.tag,
        "sf_dir": args.sf_dir,
        "replica": args.replica,
        "slice_dir": slice_dir,
        "queries": {},
    }
    bad = 0
    for name in names:
        try:
            sdf = registry.QUERIES[name](spark, slice_dir)
            cols = sorted(sdf.columns)
            srows = sorted(
                (tuple(_norm_cell(v) for v in r) for r in sdf.select(*cols).collect()),
                key=_key,
            )
            sql = registry.ORACLES.get(name)
            if sql is None:
                rec["queries"][name] = {"rows_only": len(srows)}
                print(f"# {name}: rows-only {len(srows)}", file=sys.stderr)
                continue
            try:
                # One oracle execution (ADVICE r8: the old shape ran the
                # SQL twice — once just for cursor.description — doubling
                # oracle wall time and spill at exactly the slice scale
                # where oracles already strain): fetch once in native
                # column order and permute cells to sorted order in
                # Python.
                cur = con.execute(sql)
                raw_cols = [d[0] for d in cur.description]
                ocols = sorted(raw_cols)
                # positional argsort, not raw_cols.index(c): with duplicate
                # column names index() would compare the FIRST occurrence
                # twice and never check the second (ADVICE r9)
                perm = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
                orows = sorted(
                    (
                        tuple(_norm_cell(r[i]) for i in perm)
                        for r in cur.fetchall()
                    ),
                    key=_key,
                )
            except Exception as oe:  # noqa: BLE001
                # Oracle infeasible at SLICE scale (resource-bound — e.g.
                # graph_kcore's recursive CTE): fall back to a GOLDEN PIN
                # of the Spark result (deterministic rows+digest; stable
                # across campaigns because the slice is deterministic).
                # Not a mismatch — the query stays bit-exact-verified at
                # the sf0.01 driver gate.
                import hashlib

                digest = hashlib.md5(repr(srows).encode()).hexdigest()
                rec["queries"][name] = {
                    "oracle_infeasible": str(oe).split(chr(10))[0][:200],
                    "golden_rows": len(srows),
                    "golden_md5": digest,
                }
                print(
                    f"# {name}: ORACLE-INFEASIBLE at slice scale; golden pin "
                    f"rows={len(srows)} md5={digest[:12]}",
                    file=sys.stderr,
                )
                continue
            ok = cols == ocols and srows == orows
            rec["queries"][name] = {"match": ok, "rows": len(srows)}
            if not ok:
                bad += 1
                detail = f"cols {cols} vs {ocols}" if cols != ocols else next(
                    (f"row {i}: {a} vs {b}"
                     for i, (a, b) in enumerate(zip(srows, orows)) if a != b),
                    f"rowcount {len(srows)} vs {len(orows)}",
                )
                rec["queries"][name]["mismatch_detail"] = str(detail)[:400]
            print(f"# {name}: {'MATCH' if ok else 'MISMATCH'} ({len(srows)} rows)",
                  file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - recorded, not raised
            bad += 1
            rec["queries"][name] = {"error": str(e).split(chr(10))[0][:300]}
            print(f"# {name}: ERROR {rec['queries'][name]['error'][:160]}",
                  file=sys.stderr)
    rec["n_match"] = sum(1 for v in rec["queries"].values() if v.get("match"))
    rec["n_bad"] = bad
    print(json.dumps(rec))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
