"""Sketch-based approximate aggregation (north-star: 100 TB cardinality).

HyperLogLog distinct-count built from pure Catalyst expressions and the
engine's salted md5 hash (``functions.scalar.salted_hash``), so the whole
sketch is (a) deterministic across engines, runs and cluster sizes, and
(b) bit-reproducible by an ANSI-SQL oracle (``salted_hash_sql``) — unlike
``approx_count_distinct`` whose HLL++ registers are opaque.

Scale shape: one scan → partial ``max`` per (group, bucket) register
(map-side combined, at most ``groups × m`` rows ever shuffled — for
m = 512 that is KBs per group regardless of input size) → one tiny
per-group fold.  This is exactly how a 100 TB distinct-count should run:
the shuffle is O(groups × m), not O(distinct values).

Determinism notes (see also registry docstrings):
- the register harmonic sum is computed in SCALED INTEGERS
  (``2^(52 - M_j)`` per bucket, BIGINT) so addition order cannot change
  the result; exactly one float division happens at the end;
- ``length(bin(x))`` is ``floor(log2(x)) + 1`` computed exactly on
  integers — no float log in the rho (leading-zero) path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import salted_hash, salted_hash_sql

# p = 9 → m = 512 registers; relative error ≈ 1.04/sqrt(512) ≈ 4.6 %.
HLL_P = 9
HLL_M = 1 << HLL_P
_REST_BITS = 60 - HLL_P  # md5-derived hash is truncated to 60 bits
# alpha_m * m^2 * 2^_REST_BITS, written as the same literal arithmetic the
# SQL oracle uses so both engines run identical double ops.
_ALPHA_EXPR = f"(0.7213/(1.0 + 1.079/{HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0"


def hll_registers(
    df: DataFrame, group: str | list[str], value: Column | str
) -> DataFrame:
    """Per (group, bucket) HLL register table: M = max leading-zero rank.

    The 60-bit hash comes from md5("hll:" || value): top ``HLL_P`` bits
    pick the register, the remaining 51 bits feed the rank.  All integer
    expressions — whole-stage codegen, partial-aggregated ``max``.

    ``group`` may be a list for composite keys (ADVICE r7: callers used
    to concat_ws grouping keys and split later, which silently corrupts
    on a delimiter-bearing value and drops NULL keys entirely).
    """
    groups = [group] if isinstance(group, str) else list(group)
    value = F.col(value) if isinstance(value, str) else value
    h = salted_hash("hll:", value, digits=15)
    bucket = F.shiftright(h, _REST_BITS)
    rest = h.bitwiseAND(F.lit((1 << _REST_BITS) - 1))
    # leading zeros of a REST_BITS-wide field + 1; length(bin(x)) is exact
    rho = F.when(rest == 0, F.lit(_REST_BITS + 1)).otherwise(
        F.lit(_REST_BITS + 1) - F.length(F.bin(rest))
    )
    return (
        df.select(*[F.col(g) for g in groups], bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*groups, "bucket")
        .agg(F.max("rho").alias("m_reg"))
    )


def hll_estimate(registers: DataFrame, group: str | list[str]) -> DataFrame:
    """Fold registers into the HLL estimate (with small-range correction).

    Harmonic sum in scaled integers: term_j = 2^(REST_BITS+1 - M_j) (so an
    empty register contributes 2^(REST_BITS+1)), summed as BIGINT —
    order-free.  One double division + the standard linear-counting branch.
    ``group`` may be a list for composite keys.
    """
    groups = [group] if isinstance(group, str) else list(group)
    scale_pow = _REST_BITS + 1  # 52
    term = F.pow(F.lit(2.0), F.lit(scale_pow) - F.col("m_reg")).cast("long")
    per_group = registers.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.sum(term).alias("harm_scaled"),
    )
    empty_term = 1 << scale_pow
    total = (
        F.col("harm_scaled")
        + (F.lit(HLL_M) - F.col("n_seen")).cast("long") * F.lit(empty_term)
    )
    raw = F.expr(_ALPHA_EXPR) * F.lit(float(empty_term)) / total.cast("double")
    v_zero = (F.lit(HLL_M) - F.col("n_seen")).cast("long")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero.cast("double")),
    ).otherwise(raw)
    return per_group.select(*[F.col(g) for g in groups], est.alias("hll_raw"))


def hll_distinct(df: DataFrame, group: str, value: Column | str) -> DataFrame:
    """End-to-end sketch distinct-count per group (un-rounded estimate)."""
    return hll_estimate(hll_registers(df, group, value), group)


def hll_oracle_sql(source_sql: str, group: str, value_expr: str) -> str:
    """ANSI-SQL twin of the sketch for DuckDB — same hash, same integer
    register math, same fold, so the estimate hash-matches bit for bit."""
    rest_mask = (1 << _REST_BITS) - 1
    scale_pow = _REST_BITS + 1
    empty_term = 1 << scale_pow
    return f"""
    WITH hashed AS (
      SELECT {group},
             {salted_hash_sql("hll:", f"({value_expr})", digits=15)} AS h
      FROM ({source_sql})),
    regs AS (
      SELECT {group}, h >> {_REST_BITS} AS bucket,
             max(CASE WHEN (h & {rest_mask}) = 0 THEN {_REST_BITS + 1}
                      ELSE {_REST_BITS + 1} - length(bin(h & {rest_mask})) END) AS m_reg
      FROM hashed GROUP BY {group}, bucket),
    folded AS (
      SELECT {group}, count(*) AS n_seen,
             sum((2.0 ** ({scale_pow} - m_reg))::BIGINT)::BIGINT AS harm_scaled
      FROM regs GROUP BY {group})
    SELECT {group},
           CASE WHEN ({_ALPHA_EXPR} * {empty_term}.0
                      / (harm_scaled + ({HLL_M} - n_seen) * {empty_term})::DOUBLE)
                     <= {2.5 * HLL_M}
                 AND ({HLL_M} - n_seen) > 0
                THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_seen)::DOUBLE)
                ELSE {_ALPHA_EXPR} * {empty_term}.0
                     / (harm_scaled + ({HLL_M} - n_seen) * {empty_term})::DOUBLE
           END AS hll_raw
    FROM folded
    """


# ---------------------------------------------------------------------------
# Count-min sketch: frequency estimation / heavy hitters.
# ---------------------------------------------------------------------------
# depth x width = 4 x 256 counters; over-estimate only (never under), with
# P[err > 2N/width] < (1/2)^depth per query.  Same engineering contract as
# the HLL above: md5-derived bucket hashes, pure integer counter math, so a
# SQL oracle reproduces every counter and every estimate bit-for-bit.
CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(j: int, value: Column) -> Column:
    """Row-j bucket for a value: ``salted_hash`` with salt ``cms{j}:``
    (8 hex digits) mod width — one md5 per (row, value)."""
    return salted_hash(f"cms{j}:", value) % CMS_WIDTH


def cms_counters(df: DataFrame, value: Column | str) -> DataFrame:
    """Build the (j, bucket, cnt) counter table: each input row increments
    one bucket per sketch row.

    Scale shape: the explode emits ``depth`` narrow integer rows per input
    row, ALL of which partial-aggregate map-side; at most depth x width
    (= 1,024) rows ever cross the shuffle, regardless of input size."""
    value = F.col(value) if isinstance(value, str) else value
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), _cms_bucket(j, value).alias("bucket")
                )
                for j in range(CMS_DEPTH)
            ]
        )
    )
    return (
        df.select(rows.alias("r"))
        .select("r.j", "r.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(counters: DataFrame, items: DataFrame, value: str) -> DataFrame:
    """Point-query the sketch for each distinct item: est = min over sketch
    rows of the counter at that row's bucket.

    ``items`` must carry distinct values in column ``value``; the join is
    (j, bucket) equi-join against the <= depth x width counter table —
    broadcastable at any corpus size."""
    probes = items.select(
        F.col(value),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(j, F.col(value)).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("r"),
    ).select(value, "r.j", "r.bucket")
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy(value)
        .agg(F.min("cnt").alias("cms_est"))
    )


def cms_oracle_sql(source_sql: str, value_expr: str) -> str:
    """ANSI-SQL twin: same hashes, same integer counters, same min-fold.
    Produces (value, cms_est) for every distinct value in the source."""
    probes = " UNION ALL ".join(
        f"""SELECT v, {j} AS j,
             {salted_hash_sql(f"cms{j}:", "v")} % {CMS_WIDTH} AS bucket
            FROM vals"""
        for j in range(CMS_DEPTH)
    )
    incs = " UNION ALL ".join(
        f"""SELECT {j} AS j,
             {salted_hash_sql(f"cms{j}:", f"({value_expr})")} % {CMS_WIDTH} AS bucket
            FROM src"""
        for j in range(CMS_DEPTH)
    )
    return f"""
    WITH src AS ({source_sql}),
    vals AS (SELECT DISTINCT ({value_expr}) AS v FROM src),
    counters AS (
      SELECT j, bucket, count(*)::BIGINT AS cnt FROM ({incs}) GROUP BY j, bucket),
    probes AS ({probes})
    SELECT p.v AS value, min(c.cnt)::BIGINT AS cms_est
    FROM probes p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.v
    """


# ---------------------------------------------------------------------------
# HDR-style quantile sketch: log-bucketed counts, mergeable, integer-exact.
# ---------------------------------------------------------------------------
# Buckets: a positive integer (cents) keeps its top 5 significant bits —
# values < 32 are exact, larger ones collapse onto 16 sub-buckets per
# power of two (bucket width <= lb*2^-4, i.e. relative error < 2^-4).  Bucketing is pure integer
# bit math (length(bin(x)) is the exact MSB position, then shift), so the
# sketch — like the HLL/CMS above — is bit-identical on any engine, and
# the per-group state is O(16 x 64) counters regardless of input size.
HDR_TOP_BITS = 5


def hdr_bucket_sql(col: str) -> str:
    """SQL snippet: bucket lower bound for a positive integer column —
    zero all but the top HDR_TOP_BITS significant bits.  (SQL form because
    pyspark's shiftleft/shiftright helpers only accept literal shift
    amounts; the SQL functions take expressions.)"""
    s = f"greatest(length(bin({col})) - {HDR_TOP_BITS}, 0)"
    return f"CAST(shiftleft(shiftright({col}, {s}), {s}) AS BIGINT)"


def hdr_quantile_sketch(
    df: DataFrame, group: str, cents: Column | str, ps: list[int]
) -> DataFrame:
    """Per-group quantile estimates from the bucket sketch: for each p in
    ``ps`` (percent, integer), the smallest bucket whose cumulative count
    reaches ceil(p% of n).  Returns (group, p, n, est_cents); the estimate
    is the bucket lower bound, so est <= true order statistic < est*(1+2^-4).
    """
    cents = F.col(cents) if isinstance(cents, str) else cents
    sk = (
        df.select(F.col(group), cents.alias("__c"))
        .select(F.col(group), F.expr(hdr_bucket_sql("__c")).alias("lb"))
        .groupBy(group, "lb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = sk.groupBy(group).agg(F.sum("cnt").cast("long").alias("n"))
    w = (
        Window.partitionBy(group)
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sk.withColumn("cum", F.sum("cnt").over(w)).join(n, group)
    withp = cum.withColumn("p", F.explode(F.array(*[F.lit(p) for p in ps])))
    thresh = F.expr("(n * p + 99) DIV 100")
    return (
        withp.filter(F.col("cum") >= thresh)
        .groupBy(group, "p")
        .agg(F.min("lb").alias("est_cents"), F.first("n").alias("n"))
        .select(group, "p", "n", "est_cents")
    )
