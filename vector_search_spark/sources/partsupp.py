"""Deterministic synthesized `partsupp` (VERDICT r2 item 5).

The driver's fixture set has no partsupp table, which blocked the TPC-H
Q2/Q11/Q20 query shapes.  This module derives one deterministically from
`part` × a fixed replica fan-out, with every attribute a salted md5 hash
of the (partkey, suppkey) pair (``functions.scalar.salted_hash`` and its
SQL twin) — so the Spark side and the DuckDB oracle (the
`PARTSUPP_SQL` CTE below, generated from the SAME constants) materialize
bit-identical tables from the same parquet inputs, and the three classic
shapes get full value-level oracles.  If the driver ever ships a real
partsupp, swap `synth_partsupp` for a `load_table` call and keep the
queries.

Layout mirrors TPC-H: ~PS_REPLICAS suppliers per part (md5-spread over the
supplier domain, so ~4% of lineitem's (l_partkey, l_suppkey) pairs hit a
partsupp row — enough for a non-trivial Q20 join), availqty 1..9999,
supplycost 1.00..1000.00 kept in integer cents.

Scale: generation is a narrow projection of `part` exploded ×PS_REPLICAS —
embarrassingly parallel, no scan of anything else; the supplier count is a
1-row broadcast scalar; the only exchange is the partial-agg'd DISTINCT on
(partkey, suppkey), O(|part|·replicas) narrow rows.  At 100 TB one would
materialize it once, bucketed by ps_partkey, next to the real dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import salted_hash, salted_hash_sql

PS_REPLICAS = 4
PS_MAX_QTY = 9999
PS_COST_SPAN = 99901  # cents: 100 .. 100000  ->  $1.00 .. $1000.00
PS_COST_MIN = 100


def synth_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """partsupp(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_cents)."""
    n_supp = supplier.agg(F.count(F.lit(1)).alias("__ns"))
    base = (
        part.select("p_partkey")
        .crossJoin(F.broadcast(n_supp))
        .select(
            "p_partkey",
            F.explode(F.array(*[F.lit(i) for i in range(PS_REPLICAS)])).alias("i"),
            "__ns",
        )
        .select(
            "p_partkey",
            (salted_hash("ps:", "p_partkey", "i") % F.col("__ns")).alias("ps_suppkey"),
        )
    )
    return (
        base.select(
            F.col("p_partkey").alias("ps_partkey"),
            "ps_suppkey",
            (salted_hash("psq:", "p_partkey", "ps_suppkey") % PS_MAX_QTY + 1).alias("ps_availqty"),
            (salted_hash("psc:", "p_partkey", "ps_suppkey") % PS_COST_SPAN + PS_COST_MIN).alias(
                "ps_supplycost_cents"
            ),
        )
        .distinct()
    )


# DuckDB CTE body: `WITH {PARTSUPP_SQL}, ...` — byte-for-byte the same
# derivation as synth_partsupp, from the same registered part/supplier views.
PARTSUPP_SQL = f"""ps_base AS (
      SELECT p_partkey,
             {salted_hash_sql("ps:", "p_partkey", "r.i")} % (SELECT count(*) FROM supplier)
               AS ps_suppkey
      FROM part CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(PS_REPLICAS))}) AS r(i)),
    partsupp AS (
      SELECT DISTINCT p_partkey AS ps_partkey, ps_suppkey,
             {salted_hash_sql("psq:", "p_partkey", "ps_suppkey")} % {PS_MAX_QTY} + 1 AS ps_availqty,
             {salted_hash_sql("psc:", "p_partkey", "ps_suppkey")} % {PS_COST_SPAN} + {PS_COST_MIN}
               AS ps_supplycost_cents
      FROM ps_base)"""
