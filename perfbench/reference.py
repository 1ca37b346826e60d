"""Reference answers and output checks for the benchmark's operations.

The reference reads the index the engine wrote (with pyarrow, not Spark)
and recomputes every answer in numpy and plain Python:

- KNN scores accumulate in float64 in the same left-to-right order as the
  engine's ``dot_product`` fold (a loop over dimensions, vectorized over
  rows, one rounding per multiply and per add, no BLAS), so they are
  bit-equal to the engine's and ties resolve the same way;
- ties order by (score desc, id asc);
- the rerank score is recomputed from its md5 formula;
- a null date passes the date filter.

Every ``check_*`` function returns a list of problems; an empty list means
the output is correct.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as pads

from corpus import CHUNKS_PER_ISSUE

_CATEGORY_COUNTS = {"idea": 3, "quote": 2, "question": 1}


def round4(x: float) -> float:
    """The engine's ``round4``: floor(x*1e4 + 0.5)/1e4."""
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def rerank_score(query: str, text: str) -> float:
    """The engine's ``hash_rerank_score`` formula, in Python."""
    h = int(hashlib.md5(f"{query}|{text}".encode()).hexdigest()[:8], 16)
    return (h % 100000) / 100000.0 * 8.0 - 4.0


def fold_scores(emb: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """(rows, queries) dot products summed like the engine's fold."""
    acc = np.zeros((emb.shape[0], queries.shape[0]))
    for i in range(emb.shape[1]):
        acc += emb[:, i, None] * queries[None, :, i]
    return acc


def issue_url(date: str) -> str:
    d = dt.date.fromisoformat(date)
    return f"https://jamesclear.com/3-2-1/{d.strftime('%B').lower()}-{d.day}-{d.year}"


@dataclass
class Index:
    """The columns of a written index, as numpy arrays and lists."""

    ids: list[str]
    text: list[str]
    date: list[str]
    title: list[str]
    url: list[str]
    category: list[str]
    year: list[int]
    emb: np.ndarray

    def __len__(self) -> int:
        return len(self.ids)


def load_index(path: str) -> Index:
    table = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    emb = table.column("embedding").combine_chunks()
    dim = len(emb[0]) if len(emb) else 0
    cols = {c: table.column(c).to_pylist() for c in ("chunk_id", "text", "date", "title", "url", "category", "year")}
    return Index(
        ids=cols["chunk_id"],
        text=cols["text"],
        date=cols["date"],
        title=cols["title"],
        url=cols["url"],
        category=cols["category"],
        year=cols["year"],
        emb=emb.flatten().to_numpy().reshape(len(emb), dim),
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
def check_ingest(
    path: str, issues: dict[str, str], encoder, sample: list[int]
) -> list[str]:
    """The index written from ``issues``: chunk count, year partitions,
    per-issue categories, and for the rows at positions ``sample`` (taken
    modulo the row count) the embedding, url and title."""
    idx = load_index(path)
    problems = []
    want = CHUNKS_PER_ISSUE * len(issues)
    if len(idx) != want:
        problems.append(f"{len(idx)} chunks, want {want}")
    dates = {name[: -len(".md")] for name in issues}
    years = {int(d[:4]) for d in dates}
    parts = {e for e in os.listdir(path) if e.startswith("year=")}
    if parts != {f"year={y}" for y in years}:
        problems.append(f"partitions {sorted(parts)}, want years {sorted(years)}")
    if len(set(idx.ids)) != len(idx):
        problems.append("duplicate chunk_id")
    per_issue: dict[str, dict[str, int]] = {}
    for date, cat, year in zip(idx.date, idx.category, idx.year):
        counts = per_issue.setdefault(date, {})
        counts[cat] = counts.get(cat, 0) + 1
        if year != int(date[:4]):
            problems.append(f"row dated {date} in partition year={year}")
    if set(per_issue) != dates:
        problems.append("issue dates differ from the input files")
    bad = [d for d, c in per_issue.items() if c != _CATEGORY_COUNTS]
    if bad:
        problems.append(f"{len(bad)} issues without 3 ideas, 2 quotes, 1 question")
    for pos in sample:
        if not len(idx):
            break
        i = pos % len(idx)
        if idx.emb[i].tolist() != encoder.encode_one(idx.text[i]):
            problems.append(f"row {idx.ids[i]}: embedding differs from encode_one(text)")
        if idx.url[i] != issue_url(idx.date[i]):
            problems.append(f"row {idx.ids[i]}: url {idx.url[i]!r}")
        first_line = issues.get(f"{idx.date[i]}.md", "").split("\n", 1)[0]
        if idx.title[i] != first_line[2:].strip():
            problems.append(f"row {idx.ids[i]}: title {idx.title[i]!r}")
    return problems


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Filters:
    min_score: float = 0.0
    from_date: str | None = None
    to_date: str | None = None


class SearchReference:
    """Expected top-``limit`` answers over one written index."""

    def __init__(self, index: Index, k: int, limit: int):
        self.index, self.k, self.limit = index, k, limit
        # rank of each id in ascending id order: the tie-breaker as a number
        order = sorted(range(len(index)), key=index.ids.__getitem__)
        self._id_rank = np.empty(len(index), dtype=np.int64)
        self._id_rank[order] = np.arange(len(index))
        self._scores: dict[str, np.ndarray] = {}

    def add_queries(self, texts: list[str], vectors: list[list[float]]) -> None:
        new = [(t, v) for t, v in zip(texts, vectors) if t not in self._scores]
        if not new:
            return
        scores = fold_scores(self.index.emb, np.array([v for _, v in new]))
        for j, (t, _) in enumerate(new):
            self._scores[t] = scores[:, j]

    def answer(self, query: str, f: Filters) -> list[tuple[int, float, float]]:
        """[(row, knn score, rerank score)] in result order."""
        s = self._scores[query]
        top = np.lexsort((self._id_rank, -s))[: self.k]
        kept = []
        for i in top:
            rr = rerank_score(query, self.index.text[i])
            date = self.index.date[i]
            in_range = date is None or (
                (f.from_date is None or date >= f.from_date)
                and (f.to_date is None or date <= f.to_date)
            )
            if rr >= f.min_score and in_range:
                kept.append((int(i), float(s[i]), rr))
        kept.sort(key=lambda r: (-r[2], self._id_rank[r[0]]))
        return kept[: self.limit]


def check_batch(
    ref: SearchReference, queries: list[str], f: Filters, rows: list[tuple]
) -> list[str]:
    """``rows`` are (query_id, chunk_id, knn_score, score, rank) with
    4-dp scores; query_id indexes ``queries``."""
    got: dict[int, list[tuple]] = {}
    for qid, cid, knn, score, rank in rows:
        got.setdefault(qid, []).append((rank, cid, knn, score))
    problems = []
    for qid, text in enumerate(queries):
        want = [
            (n + 1, ref.index.ids[i], round4(s), round4(rr))
            for n, (i, s, rr) in enumerate(ref.answer(text, f))
        ]
        have = sorted(got.pop(qid, []))
        if have != want:
            problems.append(f"query {qid}: {len(have)} rows differ from the {len(want)} expected")
    if got:
        problems.append(f"rows for unknown queries {sorted(got)}")
    return problems


def check_interactive(
    ref: SearchReference, query: str, f: Filters, result: dict
) -> list[str]:
    """``result`` is the dict ``api.search_newsletter`` returns."""
    idx = ref.index
    want = []
    for i, _, rr in ref.answer(query, f):
        text = idx.text[i]
        want.append(
            {
                "title": idx.title[i],
                "date": idx.date[i],
                "category": idx.category[i],
                "url": idx.url[i],
                "text": text,
                "snippet": text[:50] + "..." if len(text) > 50 else text,
                "score": round4(rr),
            }
        )
    problems = []
    if result.get("results") != want:
        problems.append(f"results differ for {query!r} {f}")
    if result.get("total_results") != len(want):
        problems.append("total_results differs from the result count")
    if result.get("query") != query:
        problems.append("query not echoed")
    echo = {"from_date": f.from_date, "to_date": f.to_date, "min_score": f.min_score, "limit": ref.limit}
    if result.get("filters") != echo:
        problems.append("filters not echoed")
    return problems
