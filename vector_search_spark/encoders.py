"""Model-inference seams: embedding encoder (E1/E2) + cross-encoder rerank (E3).

The reference calls sentence-transformers in-process
(`pipeline/encode_assets.py:24-34` → all-MiniLM-L6-v2, normalized;
`query.py:57-61` → ms-marco-MiniLM-L-6-v2 cross-encoder).  Real models are
heavyweight, non-deterministic across platforms, and absent from this
container — so the engine defines a pluggable seam:

- ``HashEncoder``: deterministic md5-seeded projection text → unit vector,
  stored as float32 like the reference's ``vector: float[384]``.  The
  default for tests/oracles.  Same algorithm available three ways:
  ``encode_one`` (driver side), Arrow UDF (distributed), and — for the rerank
  stub — a *native Catalyst expression* that DuckDB can reproduce in SQL.
- ``SentenceTransformerEncoder``: the production path, loaded lazily inside
  the pandas-UDF iterator (one model per executor process, reused across
  Arrow batches — the canonical Spark batch-inference pattern).  Raises
  cleanly when sentence-transformers isn't installed.

Both emit ``array<float>`` of ``EMBEDDING_DIM`` (384) by default: half the
bytes of ``array<double>`` in every index write, shuffle and scan.  Scores
stay float64: every dot-product path widens the elements exactly before
its first multiply.

Scale note: both paths are iterator UDFs — Arrow-batched, model loaded
once per Python worker, embarrassingly parallel over a 100 TB corpus; no
state, no shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The paper's embedding dimension (all-MiniLM-L6-v2, ``vector: float[384]``).
EMBEDDING_DIM = 384


# ---------------------------------------------------------------------------
# Deterministic hash encoder (test/oracle stub for E1/E2)
# ---------------------------------------------------------------------------
class HashEncoder:
    """text → float32 unit vector of dim ``dim``; deterministic,
    platform-independent.

    Component i = int(md5(f"{seed}|{text}|{i}")[:8 hex], 16) scaled to
    [-1, 1), then L2-normalized in float64 and rounded to float32, the
    index's element type (``vector: float[384]`` in the reference).  The
    md5 state of the ``f"{seed}|{text}|"`` prefix is computed once per
    text and copied for each component.
    """

    def __init__(self, dim: int = EMBEDDING_DIM, seed: str = "vss"):
        self.dim = dim
        self.seed = seed

    def encode_batch(self, texts: Sequence[str | None]) -> np.ndarray:
        """``len(texts) x dim`` float32 matrix; a None text encodes as "".

        The float64 steps are the per-component formula's, vectorized over
        rows: the squares are summed in component order, left to right, so
        each vector is bit-identical to a plain Python loop's."""
        suffixes = [str(i).encode() for i in range(self.dim)]
        digests = []
        for text in texts:
            prefix = hashlib.md5(f"{self.seed}|{'' if text is None else text}|".encode())
            for suffix in suffixes:
                h = prefix.copy()
                h.update(suffix)
                digests.append(h.digest())
        # the first 4 bytes of each 16-byte digest, as a big-endian uint32
        words = np.frombuffer(b"".join(digests), dtype=">u4")[::4]
        raw = words.reshape(len(texts), self.dim) / float(1 << 31) - 1.0
        sq = raw * raw
        norm2 = np.zeros(len(texts))
        for i in range(self.dim):
            norm2 += sq[:, i]
        norm = np.sqrt(norm2)
        norm[norm == 0.0] = 1.0
        return (raw / norm[:, None]).astype(np.float32)

    def encode_one(self, text: str | None) -> list[float]:
        """One vector as Python floats, each exactly a float32 value."""
        return self.encode_batch([text])[0].tolist()

    def udf(self):
        """Arrow UDF: string column -> ``array<float>``.  Each batch is one
        ``rows x dim`` float32 matrix, returned as one ``list<float>``
        array over its buffer."""

        @F.arrow_udf(T.ArrayType(T.FloatType()))
        def encode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
            for texts in batches:
                mat = self.encode_batch(texts.to_pylist())
                offsets = np.arange(0, mat.size + 1, self.dim, dtype=np.int32)
                yield pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))

        return encode


class SentenceTransformerEncoder:
    """Production encoder (reference `pipeline/encode_assets.py:24-34`).

    Model name + normalize flag mirror the reference; the model is loaded
    lazily once per executor Python worker inside the iterator UDF.
    """

    def __init__(self, model_name: str = "all-MiniLM-L6-v2", dim: int = EMBEDDING_DIM):
        self.model_name = model_name
        self.dim = dim

    def udf(self):
        model_name = self.model_name
        try:
            import sentence_transformers  # noqa: F401
        except ImportError as e:  # pragma: no cover - not installed here
            raise NotImplementedError(
                "sentence-transformers not installed in this environment; "
                "use HashEncoder for deterministic tests"
            ) from e

        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def encode(batches: Iterator["pd.Series"]) -> Iterator["pd.Series"]:  # noqa: F821
            import pandas as pd
            from sentence_transformers import SentenceTransformer

            model = SentenceTransformer(model_name)  # once per worker
            for s in batches:
                vecs = model.encode(list(s.fillna("")), normalize_embeddings=True)
                yield pd.Series([list(v) for v in vecs])

        return encode


# ---------------------------------------------------------------------------
# Rerank scoring (E3): deterministic stub as a NATIVE expression
# ---------------------------------------------------------------------------
def hash_rerank_score(query: Column | str, text: Column | str) -> Column:
    """Deterministic stand-in for the cross-encoder logit, in [-4, 4).

    logit = (hex(md5(query||'|'||text)[:8]) % 100000) / 100000 * 8 - 4

    Pure Catalyst (md5/conv/arithmetic) so it is (a) JVM-side at scale and
    (b) exactly reproducible in the DuckDB oracle:
    ``(('0x'||substr(md5(q||'|'||t),1,8))::BIGINT % 100000)/100000.0*8-4``.
    """
    q = F.col(query) if isinstance(query, str) else query
    t = F.col(text) if isinstance(text, str) else text
    h = F.conv(F.substring(F.md5(F.concat_ws("|", q, t)), 1, 8), 16, 10).cast("long")
    return (h % 100000).cast("double") / 100000.0 * 8.0 - 4.0


def cross_encoder_rerank_udf(model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2"):
    """Production rerank (reference `query.py:12,57-61`): pandas UDF scoring
    (query, text) pairs with a cross-encoder, model loaded once per worker."""
    try:
        import sentence_transformers  # noqa: F401
    except ImportError as e:  # pragma: no cover - not installed here
        raise NotImplementedError(
            "sentence-transformers not installed; use hash_rerank_score"
        ) from e

    @F.pandas_udf(T.DoubleType())
    def rerank(batches: Iterator[tuple["pd.Series", "pd.Series"]]) -> Iterator["pd.Series"]:  # noqa: F821
        import pandas as pd
        from sentence_transformers import CrossEncoder

        model = CrossEncoder(model_name)
        for q, t in batches:
            scores = model.predict(list(zip(q.fillna(""), t.fillna(""))))
            yield pd.Series([float(x) for x in scores])

    return rerank
