"""Unit tests for column functions against pure-Python oracles."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

from pyspark.sql import functions as F

from vector_search_spark.functions.scalar import (
    relevance_label,
    round4,
    salted_hash,
    salted_hash_sql,
    sigmoid,
    split_bucket,
)
from vector_search_spark.functions.text import (
    BPE_TOKEN_PATTERN,
    rolling_hash,
    token_count_bpe,
    word_shingles,
)
from vector_search_spark.functions.vector import dot_product, l2_norm, l2_normalize


def test_rolling_hash_matches_python(spark):
    texts = ["hello world", "", "a", "Spark SQL £ ünïcode", "x" * 500]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["h"] for r in df.select("i", rolling_hash("t").alias("h")).collect()}

    def py_roll(s: str, base=131, mod=1_000_000_007) -> int:
        acc = 0
        for ch in s:
            code = ord(ch) if ord(ch) < 128 else _spark_ascii(ch)
            acc = (acc * base + code) % mod
        return acc

    def _spark_ascii(ch: str) -> int:
        # Spark's ascii() returns the first code point (incl. non-ASCII)
        return ord(ch)

    for i, t in enumerate(texts):
        assert got[i] == py_roll(t), (i, t)


def test_bpe_token_count_matches_python(spark):
    texts = ["Hello, world! 42 times", "", "a+b=c", "  spaced   out  "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["n"] for r in df.select("i", token_count_bpe("t").alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(re.findall(BPE_TOKEN_PATTERN, t)), t


def test_vector_math(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0], [1.0, 0.0]), (2, [0.0, 0.0], [1.0, 1.0])],
        "i long, a array<double>, b array<double>",
    )
    rows = {r["i"]: r for r in df.select(
        "i",
        dot_product("a", "b").alias("dot"),
        l2_norm("a").alias("norm"),
        l2_normalize("a").alias("unit"),
    ).collect()}
    assert rows[1]["dot"] == 3.0 and rows[1]["norm"] == 5.0
    assert rows[1]["unit"] == [0.6, 0.8]
    assert rows[2]["norm"] == 0.0 and rows[2]["unit"] == [0.0, 0.0]  # zero-safe


def test_scalars(spark):
    df = spark.createDataFrame([(4.0,), (0.0,), (-3.5,)], "x double")
    rows = df.select(
        "x", round4(sigmoid("x")).alias("s"), relevance_label("x").alias("l")
    ).collect()
    got = {r["x"]: (r["s"], r["l"]) for r in rows}
    assert got[4.0] == (0.982, "high")
    assert got[0.0] == (0.5, "medium")
    assert got[-3.5][1] == "low"


def test_word_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([("a b",), ("one two three four",)], "t string")
    rows = [r[0] for r in df.select(word_shingles("t", 3).alias("s")).collect()]
    assert rows[0] == ["a b"]  # shorter than n -> whole-text shingle
    assert rows[1] == ["one two three", "two three four"]


def test_salted_hash_twins_agree(spark):
    """The Spark and DuckDB salted hashes give the same BIGINT (NULL for a
    NULL id), and it is the leading hex digits of md5(salt || ids)."""
    import duckdb

    rows = [
        (0, 0, "a|b:c"),
        (1, -1, "ünï|cödé:✓"),
        (2, 2**62, None),
        (3, None, ""),
    ]
    cols = {
        "h8": (salted_hash("t:", "i"), salted_hash_sql("t:", "i")),
        "h15": (salted_hash("t:", "i", digits=15), salted_hash_sql("t:", "i", digits=15)),
        "hs": (salted_hash("t:", "s", digits=15), salted_hash_sql("t:", "s", digits=15)),
        "h2": (
            salted_hash("t:", "i", "s", sep="-"),
            salted_hash_sql("t:", "i", "s", sep="-"),
        ),
        "bucket": (split_bucket("i"), f"{salted_hash_sql('split:', 'i')} % 100"),
    }
    df = spark.createDataFrame(rows, "k int, i long, s string")
    got = [
        tuple(r)
        for r in df.select("k", *[c.alias(n) for n, (c, _) in cols.items()]).orderBy("k").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, i BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    sql = ", ".join(f"{text} AS {n}" for n, (_, text) in cols.items())
    want = con.execute(f"SELECT k, {sql} FROM t ORDER BY k").fetchall()
    assert got == want

    def py(salt, *ids, sep="", digits=8):
        if any(x is None for x in ids):
            return None
        return int(hashlib.md5((salt + sep.join(map(str, ids))).encode()).hexdigest()[:digits], 16)

    for (k, i, s), row in zip(rows, got):
        assert row == (
            k,
            py("t:", i),
            py("t:", i, digits=15),
            py("t:", s, digits=15),
            py("t:", i, s, sep="-"),
            None if i is None else py("split:", i) % 100,
        )


# Spellings of the md5 -> BIGINT idiom that hash something other than a
# salted id, keyed by file; each entry is the md5 argument, whitespace removed.
_HASH_IDIOM_ALLOWED = {
    # simhash feature hash: twin of operators.dedup._md5_hash64's concat_ws(':', '0', shingle)
    "registry_dedup.py": ["'0'||':'||shingle"],
    # multimodal stub feature bytes: 2-hex-digit slices of md5('ph2|' || text)
    "registry_extensions.py": ["'ph2|'||text"],
    # twin of encoders.hash_rerank_score's concat_ws('|', query, text)
    "registry_search.py": ["'whatisspark'||'|'||text"],
}


def test_salted_hash_is_spelled_once():
    """Outside functions/scalar.py the package builds every salted md5 hash
    with salted_hash / salted_hash_sql, not by spelling the idiom out."""
    pkg = Path(__file__).resolve().parents[1] / "vector_search_spark"
    spark_form = "F.conv(F.substring(F.md5(F.concat(F.lit("
    sql_form = re.compile(r"\('0x'\|\|substr\(md5\(('[^)]*)\)")
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "functions/scalar.py":
            continue
        text = "".join(path.read_text(encoding="utf-8").split())
        hits = sql_form.findall(text) + [spark_form] * text.count(spark_form)
        if hits:
            found[path.name] = hits
    assert found == _HASH_IDIOM_ALLOWED


# Stages written once per engine, with the idiom that marks a spelled-out
# copy (whitespace removed): the Gini split finder's cumulative window
# (its cum_pos column; the boosting stumps' least-squares window has no
# class counts), the session-break flag (a lag of the microsecond time
# column), the ANN candidate rescore (candidate pairs joined to their
# query vectors), the SRP pair rescore (the second vector join), the
# truncate-at-first-purchase stage (its cp column), the fixed-round loop
# (an aggregate() over sequence(1, ...) or a read of its accumulator) and
# the Markov transition counts (a cell's prev/event_type test).  Each maps
# to the module holding the helpers and their count.
_STAGE_IDIOMS = {
    "gini split window": re.compile(r'alias\("cum_pos"\)|AScum_pos', re.I),
    "session break flag": re.compile(r'lag\("?(?:ts_)?us"?\)', re.I),
    "candidate rescore": re.compile(
        r'\.join\(F\.broadcast\(\w+\),"?(?:query_id|qid)|JOIN\w+ON(?:c|cand)\.(?:query_id|qid)='
    ),
    "pair rescore": re.compile(
        r'F\.col\("embedding"\)\.alias\("v2"\)|JOINembeddingsbONc\.id_2=b\.vec_id'
    ),
    "truncate at first purchase": re.compile(r'withColumn\("cp",|AScp,'),
    "fixed-round loop": re.compile(r"aggregate\(sequence\(1,|element_at\(acc,"),
    "transition counts": re.compile(
        r"prev='\{a\}'ANDevent_type='\{b\}'"
        r'|\(F\.col\("prev"\)==a\)&\(F\.col\("event_type"\)==b\)'
    ),
}
_STAGE_HELPERS = {
    # gini_split_scores, gini_split_scores_sql; iterate_rounds (the loop
    # and its state read); _SQL_MK_COUNTS and markov_transition_counts
    "registry_ml.py": {"gini split window": 2, "fixed-round loop": 2, "transition counts": 2},
    # sessions_gap_at_least (one lag) and sessions_gap_over (two), both
    # engines; truncate_at_first_purchase and its _sql twin
    "operators/relational.py": {"session break flag": 6, "truncate at first purchase": 2},
    # exact_rescore_topk
    "operators/ann.py": {"candidate rescore": 1},
    # _SQL_RESCORED, and _srp_pair_scores / _SQL_SRP_PAIR_SCORED
    "registry_extensions.py": {"candidate rescore": 1, "pair rescore": 2},
}


def test_shared_stages_are_spelled_once():
    """The Gini split finder, the two sessionizers, the truncate stage,
    the ANN candidate and SRP pair rescores, the fixed-round loop and the
    Markov transition counts are spelled only in their helpers; every
    other query calls them."""
    pkg = Path(__file__).resolve().parents[1] / "vector_search_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        text = "".join(path.read_text(encoding="utf-8").split())
        counts = {k: len(p.findall(text)) for k, p in _STAGE_IDIOMS.items()}
        if any(counts.values()):
            found[path.relative_to(pkg).as_posix()] = {k: n for k, n in counts.items() if n}
    assert found == _STAGE_HELPERS
